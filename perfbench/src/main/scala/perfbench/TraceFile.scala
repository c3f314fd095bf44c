package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** Writes a traced run's spans, jobs and metrics as one JSON document. */
object TraceFile {
  def write(path: String, workload: String, seed: Long, shape: Shape, w: Workload,
      tracer: Tracer, ticks: Seq[Span], ops: Seq[Span],
      endToEnd: Seq[Main.Metric], layers: Seq[Main.Metric]): Unit = {
    val spans = tracer.allSpans
    val t0 = spans.map(_.startNs).minOption.getOrElse(0L)
    def metrics(ms: Seq[Main.Metric]) =
      Json.Raw(Json.obj(ms.map(m => m.name -> Json.Raw(Json.obj("value" -> m.value, "unit" -> m.unit))): _*))
    val layer = layers.map(m => m.name -> m.value).toMap
    val doc = Json.obj(
      "workload" -> workload,
      "seed" -> seed,
      "sizes" -> Map("rows" -> shape.rows, "users" -> shape.users, "rules" -> w.seeded),
      "measured" -> Map("ticks" -> ticks.size, "ops" -> ops.size),
      "end_to_end" -> metrics(endToEnd),
      "per_layer" -> metrics(layers),
      "regime" -> Map(
        "control_share" -> layer("regime.control_share"),
        "compute_share" -> layer("regime.compute_share")),
      "spans" -> spans.map(s => Json.Raw(Json.obj(
        "id" -> s.id, "parent" -> s.parent, "kind" -> s.kind, "name" -> s.name,
        "start_s" -> (s.startNs - t0) / 1e9, "seconds" -> s.seconds,
        "jobs" -> tracer.jobsOf(s).map(j => Json.Raw(Json.obj(
          "job" -> j.jobId, "layer" -> j.layer, "ms" -> (j.endMs - j.startMs),
          "cpu_s" -> j.cpuNs / 1e9, "shuffle_write_bytes" -> j.shuffleWriteBytes)))))))
    Files.write(Paths.get(path), (doc + "\n").getBytes(StandardCharsets.UTF_8))
  }
}
