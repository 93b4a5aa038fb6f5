#!/usr/bin/env python3
"""Check the generated curation corpus against a reference dataset.

    python3 perfbench/fit.py REFERENCE_DIR [--seed N] [--engine]

REFERENCE_DIR holds `documents.parquet` and `embeddings.parquet` (the
engine's sf0.1 test data). The script generates the corpus the benchmark
would generate from the seed and prints, as one JSON object, the same
statistics for both: row counts, words per document, vocabulary,
near-duplicate share and pairs, language shares, embedding shape and
cluster structure. With `--engine` it also runs the traced curate
workload over both datasets (the harness must be built: run the
benchmark once first) and adds each curate operation's result rows and
Spark job count, and d06's duplicate count. The benchmark does not run
this script; SPEC.json records its output.
"""
import argparse
import collections
import glob
import json
import os
import shutil
import sys
import time
import types

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import gen  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402


def doc_stats(path):
    docs = pq.read_table(path).to_pandas()
    words = docs.text.str.split()
    n_words = words.str.len()
    dup = docs.text.str.endswith(" dup")
    counts = collections.Counter(w for ws in words for w in ws if w != "dup")
    share = np.array(list(counts.values())) / sum(counts.values())
    # near-duplicate pairs: a document equal to another one plus " dup"
    by_text = collections.Counter(docs.text)
    pairs = sum(by_text[t[:-4]] for t in docs.text[dup])
    return {
        "rows": len(docs),
        "words_per_doc": {"min": int(n_words[~dup].min()), "max": int(n_words[~dup].max()),
                          "mean": round(float(n_words.mean()), 2),
                          "p25_p50_p75": [float(x) for x in n_words.quantile([.25, .5, .75])]},
        "vocabulary": len(counts),
        "word_share_min_max": [round(float(share.min()), 4), round(float(share.max()), 4)],
        "dup_share": round(float(dup.mean()), 4),
        "dup_of_dup": int(docs.text.str.endswith(" dup dup").sum()),
        "near_dup_pairs": int(pairs),
        "lang_share": {k: round(float(v), 3) for k, v in
                       docs.lang.value_counts(normalize=True).sort_index().items()},
        "sources": int(docs.source.nunique()),
        "n_chars_mean": round(float(docs.n_chars.mean()), 1),
    }


def emb_stats(path):
    e = pq.read_table(path).to_pandas()
    v = np.stack(e.embedding.values).astype(np.float64)
    labels = e.label.values
    cos = v @ v.T
    same = labels[:, None] == labels[None, :]
    np.fill_diagonal(same, False)
    cents = np.stack([v[labels == k].mean(0) for k in np.unique(labels)])
    counts = np.bincount(labels)
    return {
        "rows": len(e), "dim": int(v.shape[1]),
        "norm_mean": round(float(np.linalg.norm(v, axis=1).mean()), 4),
        "labels": int(len(counts)),
        "label_rows_min_max": [int(counts.min()), int(counts.max())],
        "cos_same_label": round(float(cos[same].mean()), 4),
        "cos_other_label": round(float(cos[~same & ~np.eye(len(v), dtype=bool)].mean()), 4),
        "centroid_norm_mean": round(float(np.linalg.norm(cents, axis=1).mean()), 4),
    }


def engine_stats(data, work, seed):
    """Result rows and job counts of the curate operations over `data`,
    from one traced run of the harness."""
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    plan = gen.ingest_inputs(np.random.default_rng(seed), work)
    plan_path = os.path.join(work, "ingest_plan.json")
    with open(plan_path, "w") as f:
        json.dump(plan, f)
    args = types.SimpleNamespace(workload="curate", seed=seed, seconds=1, trace=1)
    res = run.run_jvm(args, data, work, os.path.join(work, "result.json"), plan_path,
                      time.time() + 600)
    jobs = res["layers"]["jobs_by_op"]
    out = {o["op"]: {"rows": o["rows"],
                     "jobs": jobs[o["op"]]["build_jobs"] + jobs[o["op"]]["exec_jobs"]}
           for o in res["per_op"]}
    d06 = glob.glob(os.path.join(res["verify_dir"], "d06_dedup_clusters", "*.parquet"))
    if d06:
        rows = pd.concat([pd.read_parquet(f) for f in d06])
        out["d06_dedup_clusters"]["duplicates"] = int(rows.is_duplicate.sum())
        out["d06_dedup_clusters"]["clusters"] = int(
            rows[rows.is_duplicate].canonical_id.nunique())
    shutil.rmtree(work, ignore_errors=True)
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("reference")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--engine", action="store_true")
    a = ap.parse_args()
    gen_dir = os.path.join(run.BUILD, "fit", "generated")
    shutil.rmtree(gen_dir, ignore_errors=True)
    os.makedirs(gen_dir)
    rng = np.random.default_rng(a.seed)
    gen.corpus(rng, gen_dir, run.CORPUS_SCALE)
    out = {}
    for name, d in (("reference", a.reference), ("generated", gen_dir)):
        out[name] = {"documents": doc_stats(os.path.join(d, "documents.parquet")),
                     "embeddings": emb_stats(os.path.join(d, "embeddings.parquet"))}
    if a.engine:
        # the star-schema tables the traced run's job probes read come
        # from the reference directory in both runs
        for t in oracle.TABLES:
            if t not in ("documents", "embeddings"):
                shutil.copy(os.path.join(a.reference, f"{t}.parquet"), gen_dir)
        for name, d in (("reference", a.reference), ("generated", gen_dir)):
            run.build()
            out[name]["curate"] = engine_stats(
                os.path.abspath(d), os.path.join(run.BUILD, "fit", "work"), a.seed)
    shutil.rmtree(os.path.join(run.BUILD, "fit"), ignore_errors=True)
    print(json.dumps(out, indent=1))


if __name__ == "__main__":
    main()
