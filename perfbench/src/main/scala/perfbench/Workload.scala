package perfbench

import org.apache.spark.sql.SparkSession

/** What one operation did: the documents and rows it consumed or
  * committed, a correctness check to run after its clock stops, which
  * names every way the result is wrong (none when correct), and the
  * kind of operation it was (the artifact groups latencies by kind). */
final case class Op(docs: Long, rows: Long, check: () => Seq[String], kind: String = "op")

object Op {
  /** The names of the conditions that do not hold. */
  def problems(conds: (String, Boolean)*): Seq[String] = conds.collect { case (n, false) => n }
}

/** Everything a workload needs: the session, its seed, a private
  * working directory inside the checkout, and (ingest only) the port of
  * the Postgres server the launcher provisioned. */
final case class Ctx(spark: SparkSession, seed: Long, workDir: String, pgPort: Option[Int]) {
  val cpus: Int = Host.nproc
  def path(name: String): String = s"$workDir/$name"
}

/** One benchmark workload. The harness calls [[generate]] (untimed),
  * [[load]] [[setupRepeats]] times (the engine-side part of set-up,
  * timed), then [[warmup]] and [[op]] in a closed loop with one client. */
trait Workload {
  /** Generate the seed's inputs and stage them; never timed. */
  def generate(): Unit

  /** Engine-side load of the session (prepared relations, stores). A
    * later call replaces an earlier one's state. */
  def load(t: Tracer): Unit

  /** How many loads set-up times; `setup_s` counts their median. */
  def setupRepeats: Int = 3

  def warmup(): Unit

  /** Untimed preparation of operation `i` (staging its inputs). */
  def prepare(i: Int): Unit = ()

  /** One operation, timed by the caller. */
  def op(i: Int, t: Tracer): Op

  /** Fewest operations a measured phase runs, whatever its length. */
  def minOps: Int

  /** Generated sizes and rates, for the run artifact. */
  def sizes: Map[String, Any]

  def close(): Unit = ()
}
