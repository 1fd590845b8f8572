package perfbench

import org.apache.spark.sql.SparkSession

/** What a workload hands the harness: one timed client operation.
  * `body` is the engine work and is the only part on the clock;
  * `verify` runs after the clock stops and judges the result. `kind`
  * groups ops for the metrics ("read", "write", "compact", "round");
  * `module` names the engine layer the op exercises. */
final class Op private (val name: String, val kind: String, val module: String,
                        body0: () => Any, verify0: Any => Verdict) {
  def body(): Any = body0()
  def verify(result: Any): Verdict = verify0(result)
}

object Op {
  def apply[R](name: String, kind: String, module: String)(body: => R)(
      verify: R => Verdict): Op =
    new Op(name, kind, module, () => body, r => verify(r.asInstanceOf[R]))
}

/** The judgement on one op's result. `fingerprint` is checked outside
  * the JVM (against the stored oracle fingerprints); `extra` carries
  * op-level measurements taken outside the clock. */
final case class Verdict(ok: Boolean, detail: String = "",
                         fingerprint: Option[Map[String, Any]] = None,
                         extra: Map[String, Double] = Map.empty)

/** Everything a workload may touch. `dir` is this setup's own empty
  * directory; `span` opens a child span of the running op (a no-op when
  * the run is not traced). */
final class Ctx(val spark: SparkSession, val dataDir: String, val dir: String,
                val seed: Long, val smoke: Boolean, var tracer: Tracer) {
  def span[T](name: String)(body: => T): T = tracer.span(name, -1)(body)
}

trait Workload {
  /** Build and stage the inputs. The harness then runs pass 0 as the
    * warm-up, verified but off the clock, as part of set-up. */
  def setup(): Unit
  /** The ops of pass `p` (0-based): one full sequence of the workload's
    * ops, the unit a run times whole. Built lazily, one op at a time, so
    * each op's inputs are drawn just before it runs. */
  def pass(p: Int): Iterator[Op]
  /** Called between ops, off the clock. */
  def betweenOps(): Unit = ()
  /** End-of-run checks: (name, ok, detail). */
  def finish(): Seq[(String, Boolean, String)] = Nil
  /** Whole-run measurements taken at the end (e.g. space amplification). */
  def endMetrics(): Map[String, Double] = Map.empty
  def teardown(): Unit = ()
}
