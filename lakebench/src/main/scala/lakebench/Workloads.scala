package lakebench

import scala.util.Random

/** The benchmark's closed-loop workloads: one client runs a fixed
  * list of registry gates (`graft.SparkEntry.queries`) one after another.
  * Why each workload exists is written down in `lakebench/README.md`. */
object Workloads {

  /** Short reads, where the fixed cost per query (planning, job launch,
    * driver time between jobs) is most of the wall time. */
  val lakeRead: Seq[String] = Seq(
    "q1_pricing_summary", "q3_revenue_by_nation", "o3_latest_per_group",
    "a1_kv_to_map", "vt_data_skipping")

  /** The reference toolkit's own work: raw CSV promoted into partitioned
    * Parquet, streaming micro-batch ingest and a VersionedTable merge
    * commit. */
  val lakeWrite: Seq[String] = Seq(
    "etl_promote_e2e", "t1_stream_ingest", "vt_merge_conditional")

  /** A similarity self-join and a loop operator: eager rounds, local
    * checkpoints, heavy shuffles, bound by task CPU. */
  val iterative: Seq[String] = Seq(
    "sim_sparse_cosine", "sim_mmr_diversify")

  val all: Map[String, Seq[String]] = Map(
    "lake_read" -> lakeRead, "lake_write" -> lakeWrite, "iterative" -> iterative)

  /** Gate order in one pass: the seed permutes the list afresh for every
    * pass, so runs with different seeds see different orders while the
    * inputs stay the same. */
  def order(workload: String, seed: Long, pass: Int): Seq[String] =
    new Random(seed * 1000003L + pass).shuffle(all(workload))
}
