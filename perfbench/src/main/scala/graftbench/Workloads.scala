package graftbench

import org.apache.spark.sql.SparkSession

import graft.Tables
import graft.queries._
import graft.streaming.StreamingJobs

/** The three workloads. Together they hold every query of
  * `Registry.all` exactly once (WorkloadsSpec checks it):
  *
  *   - `lsm_stream`: the overhead-bound rows — eager jobs inside the
  *     query builder, micro-batches, index appends and compactions;
  *   - `olap`: the star-schema scan/join/aggregate/window families
  *     (core, surface, events) without the `lsm_stream` rows;
  *   - `text_vectors`: the document, embedding and media families
  *     without the `lsm_stream` rows, where task time sits in the
  *     `graft.functions` kernels and in skew-prone self-joins.
  *
  * A family list that grows puts its new query into its workload without
  * an edit here. */
object Workloads {
  val names: Seq[String] = Seq("olap", "text_vectors", "lsm_stream")

  /** Query ids (the part of the name before the first `_`) of `lsm_stream`. */
  val lsmIds: Set[String] = Set(
    "q110", "q110b", "q110c", "q110d", "q110e", "q110f", "q116b",
    "q117b", "q117c", "q117d", "q117e", "q122",
    "q44", "q49", "q58", "q66", "q79", "q94", "q96", "q97", "q98", "q99")

  def idOf(name: String): String = name.takeWhile(_ != '_')

  def isLsm(q: QueryDef): Boolean = lsmIds(idOf(q.name))

  def queries(workload: String): Seq[QueryDef] = workload match {
    case "olap" =>
      (CoreQueries.all ++ SurfaceQueries.all ++ EventQueries.all).filterNot(isLsm)
    case "text_vectors" =>
      (DocQueries.all ++ EmbeddingQueries.all ++ MediaQueries.all).filterNot(isLsm)
    case "lsm_stream" => Registry.all.filter(isLsm)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** The queries a time-budgeted run measures: a fixed subset of each
    * workload, small enough that three set-ups, a cold pass and the warm
    * passes fit one run of about 50–55 s on 4 cores. `probe.py` derived
    * each set from a `--full 1 --trace 1` run of its whole workload: the
    * set's pooled shares of wall time in the query builder, in Catalyst
    * and in driver gaps are within 0.05 of the whole workload's, and its
    * jobs and micro-batches per second within 25 % (README, "Probe
    * sets"). Rows the search must keep: olap's layout rows (q55, q56,
    * q95), so that its set-up builds the layouts, and lsm_stream's
    * streaming compaction (q117e). An id stands for every query whose
    * name starts with it. */
  val probeIds: Map[String, Seq[String]] = Map(
    "olap" -> Seq("q01", "q14", "q55", "q56", "q61", "q69", "q70", "q72", "q73", "q95"),
    "text_vectors" -> Seq("q28", "q31c", "q32", "q51", "q88", "q89", "q101", "q116", "q117"),
    "lsm_stream" -> Seq("q66", "q94", "q117e"))

  def probe(workload: String): Seq[QueryDef] =
    queries(workload).filter(q => probeIds(workload).contains(idOf(q.name)))

  /** An ingest artifact: its name, the ids of the queries that read it, and
    * the builder call that makes it. */
  final case class Artifact(name: String, readers: Set[String],
      build: (SparkSession, String) => Any)

  /** Every ingest artifact a workload's queries read. Set-up builds the
    * ones the run's queries read, from an empty warehouse. */
  def artifacts(workload: String): Seq[Artifact] = workload match {
    case "olap" => Seq(
      Artifact("lineitem_bkt", Set("q03b"), (s, d) => Tables.bucketed(s, d,
        "lineitem", "l_orderkey", Seq("l_orderkey", "l_extendedprice", "l_discount"))),
      Artifact("orders_bkt", Set("q03b"), (s, d) => Tables.bucketed(s, d,
        "orders", "o_orderkey", Seq("o_orderkey", "o_custkey"))),
      Artifact("orders_datepart", Set("q55", "q56"), (s, d) => Tables.datePartitioned(s, d)),
      Artifact("era_dim", Set("q56"), (s, _) => Tables.eraDim(s)),
      Artifact("orders_zorder", Set("q95"), (s, d) => Tables.zordered(s, d))) ++
      Seq("csv", "json", "orc", "xml", "avro").map(c =>
        Artifact(s"events_$c", Set("q57"), (s, d) => Tables.codecEvents(s, d, c)))
    case "text_vectors" => Seq(
      Artifact("embeddings_rowcount", EmbeddingQueries.all.map(q => idOf(q.name)).toSet,
        (s, d) => Tables.rowCount(s, d, "embeddings")))
    case "lsm_stream" => Seq(
      Artifact("events_daily_mv", Set("q94"), (s, d) => Tables.eventsDailyMv(s, d)),
      Artifact("events_replay", Set("q44", "q49", "q58", "q96", "q97", "q99"),
        (s, d) => StreamingJobs.replayDirFor(s, d)),
      Artifact("events_replay_dup", Set("q98"), (s, d) => StreamingJobs.replayDirDup(s, d)),
      Artifact("events_replay_multi", Set("q79"), (s, d) => StreamingJobs.replayDirMulti(s, d)),
      Artifact("docs_replay", Set("q110d", "q116b", "q117b", "q117d", "q117e", "q122"),
        (s, d) => StreamingJobs.docsReplayDir(s, d)),
      Artifact("docs_minhash", Set("q110b"), (s, d) => Tables.minhashIndex(s, d)),
      Artifact("docs_minhash_base", Set("q110c", "q110d", "q110e", "q110f", "q122"),
        (s, d) => Tables.minhashIndexBase(s, d)),
      Artifact("docs_grams", Set("q117b", "q117c", "q117d", "q117e", "q122"),
        (s, d) => Tables.gramIndex(s, d)))
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Source tables each workload reads, for the stored-bytes ratio. */
  def sourceTables(workload: String): Seq[String] = workload match {
    case "olap" => Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events")
    case "text_vectors" => Seq("documents", "embeddings")
    case "lsm_stream" => Seq("documents", "events")
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
}
