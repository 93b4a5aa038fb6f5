package perfbench

import scala.jdk.CollectionConverters._

/** Reads the ingest plan `gen.py` wrote next to the generated batches. */
object IngestPlanJson {
  def load(path: String, derbyUrl: String): Workloads.IngestPlan = {
    val n = new com.fasterxml.jackson.databind.ObjectMapper().readTree(new java.io.File(path))
    Workloads.IngestPlan(
      inputDir = n.get("input_dir").asText(),
      batches = n.get("batches").size(),
      streamBatches = n.get("stream_batches").elements().asScala.map(_.asInt()).toSeq,
      updateR = n.get("update_r").asInt(),
      mod = n.get("mod").asInt(),
      updateDelta = n.get("update_delta").asDouble(),
      groups = n.get("groups").asInt(),
      derbyUrl = derbyUrl)
  }
}
