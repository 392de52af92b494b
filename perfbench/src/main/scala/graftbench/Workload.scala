package graftbench

/** One benchmark operation. `before` runs untimed (landing the run's input),
  * `run` is the timed call into the engine and returns what `check` needs;
  * `check` runs untimed and returns a failure message, if any. Operations of
  * one `kind` (a query, a daily run) are samples of the same work.
  */
final case class Op(name: String, run: () => Any, check: Any => Option[String],
    before: () => Unit = () => (), kind: String = "") {
  def kindOrName: String = if (kind.isEmpty) name else kind
}

/** A workload: a repeatable set-up and passes of operations. Negative passes
  * are untimed warm-ups. Every input derives from the seed given at
  * construction.
  */
trait Workload {
  /** Builds the inputs under a freshly wiped scratch root. */
  def prepare(): Unit

  /** The operations of pass `i`. */
  def pass(i: Int): Seq[Op]

  /** Workload-specific per-layer metrics over the traced operations. */
  def layerMetrics(traced: Seq[OpRecord]): Map[String, Double] = Map.empty
}

/** What the harness recorded about one operation. */
final case class OpRecord(name: String, kind: String, pass: Int, traced: Boolean, startMs: Long,
    wallS: Double, cpuS: Double, failure: Option[String], trace: Option[OpTrace],
    artifactsBuilt: Seq[String])
