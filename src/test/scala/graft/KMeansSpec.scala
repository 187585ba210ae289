package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.Registry

/** q103 k-means semantics and the l2q kernel.
  *
  * The query's own oracle (DuckDB long-form rebuild) proves engine
  * parity; this spec pins the ALGORITHMIC properties the oracle can't
  * see: Lloyd's monotonicity (the reported WSS must not exceed the
  * initial-assignment WSS — the update + re-assignment each only
  * improve the objective, up to micro-quantization noise that is ~20
  * orders below the improvements on this corpus), full partitioning
  * (every vector lands in exactly one cluster), and the broadcast plan
  * shape that makes the operator linear at 100 TB.
  */
class KMeansSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = TestSpark.sf0001

  private lazy val out =
    Registry.byName("q103_kmeans_clusters").run(spark, dir).collect()

  test("q103 partitions the corpus: cluster sizes sum to the corpus") {
    val n = Tables.rowCount(spark, dir, "embeddings")
    val k = queries.EmbeddingQueries.kmK(n)
    assert(out.map(_.getAs[Long]("n")).sum === n)
    assert(out.map(_.getAs[Long]("cid")).toSet === (0L until k.toLong).toSet,
      s"all $k seeded clusters should survive on this corpus")
  }

  test("kmK sizes k from the corpus: max(8, ceil(n/64)) exact-integer") {
    import queries.EmbeddingQueries.kmK
    assert(kmK(1) === 8)       // floor
    assert(kmK(500) === 8)     // golden fixtures sit at the floor
    assert(kmK(512) === 8)     // exact boundary
    assert(kmK(513) === 9)     // first step off the floor
    assert(kmK(2000) === 32)   // the sf0.1 bench corpus
    assert(kmK(1000000) === 15625) // k keeps growing with the corpus
  }

  test("q103 at sf0.1 runs OFF the k floor: 32 corpus-sized clusters") {
    // n=2000 → kmK=32 — the parameterization exercised away from its
    // max(8, ·) floor, with the full-partition invariant intact
    val dir01 = "/root/testdata/sf0.1"
    val o = Registry.byName("q103_kmeans_clusters").run(spark, dir01)
      .collect()
    val n = Tables.rowCount(spark, dir01, "embeddings")
    assert(queries.EmbeddingQueries.kmK(n) === 32)
    assert(o.map(_.getAs[Long]("cid")).toSet === (0L until 32L).toSet)
    assert(o.map(_.getAs[Long]("n")).sum === n)
  }

  test("q103 WSS is monotone: reported WSS <= initial-assignment WSS") {
    import spark.implicits._
    val e = Tables.load(spark, dir, "embeddings")
      .select($"vec_id", $"embedding")
    // rebuild the INITIAL assignment objective: distance to the nearest
    // of the 8 seed vectors (the query's c0), summed over the corpus
    val seeds = e.orderBy($"vec_id").limit(8)
      .select((row_number().over(Window.orderBy($"vec_id")) - 1)
        .cast(LongType).as("cid"), $"embedding".as("carr"))
    val wss0 = e.crossJoin(broadcast(seeds))
      .withColumn("d2", expr("l2q(embedding, carr)"))
      .groupBy($"vec_id").agg(min($"d2").as("d2"))
      .agg(sum($"d2")).head().getLong(0)
    val wssReported = out.map(_.getAs[Long]("wss_q")).sum
    assert(wssReported <= wss0,
      s"Lloyd round worsened the objective: $wssReported > $wss0")
    assert(wssReported > 0L)
  }

  test("q103 plan broadcasts the centroids — no shuffled join anywhere") {
    val df = Registry.byName("q103_kmeans_clusters").run(spark, dir)
    df.collect()
    // the pre-runtime Initial plan legitimately carries an SMJ that AQE
    // demotes to a broadcast join once it sees the k-row side — judge
    // the FINAL plan only
    val fin = TestSpark.finalPlan(df)
    assert(!fin.contains("SortMergeJoin") && !fin.contains("ShuffledHashJoin"),
      s"q103 shuffled a join side — centroids must broadcast:\n$fin")
    assert(fin.contains("BroadcastHashJoin") || fin.contains("BroadcastNestedLoopJoin"),
      s"expected broadcast joins in q103:\n$fin")
  }

  test("kmAssign equals the crossJoin + groupBy argmin it replaced, row for row") {
    // the map-only HOF fold must pick the same (d2, cid) lexicographic
    // minimum as the old |e|·k crossJoin + min(struct(d2, cid)) shape
    import spark.implicits._
    val e = Tables.load(spark, dir, "embeddings")
      .select($"vec_id", $"embedding")
    val cents = queries.EmbeddingQueries.kmSeeds(e, 32)(spark)
      .localCheckpoint()
    val oldAssign = e.crossJoin(broadcast(cents))
      .withColumn("d2", expr("l2q(embedding, carr)"))
      .groupBy($"vec_id")
      .agg(min(struct($"d2", $"cid")).as("m"))
      .select($"vec_id", $"m.cid".as("cid"), $"m.d2".as("d2"))
    val newAssign = queries.EmbeddingQueries.kmAssign(e, cents)(spark)
      .select($"vec_id", $"cid", $"d2")
    val diff = oldAssign.except(newAssign).count() +
      newAssign.except(oldAssign).count()
    assert(diff === 0L, s"$diff rows differ between the two assignments")
    assert(newAssign.count() === e.count())
  }

  test("kmAssign fails loudly on an empty centroid set") {
    import spark.implicits._
    val e = Tables.load(spark, dir, "embeddings")
      .select($"vec_id", $"embedding")
    val empty = queries.EmbeddingQueries.kmSeeds(e, 8)(spark).limit(0)
    val thrown = intercept[Exception] {
      queries.EmbeddingQueries.kmAssign(e, empty)(spark).collect()
    }
    val msgs = Iterator.iterate[Throwable](thrown)(_.getCause)
      .takeWhile(_ != null).map(t => String.valueOf(t.getMessage))
    assert(msgs.exists(_.contains("kmAssign")),
      s"the empty-centroid error does not name kmAssign: $thrown")
  }

  test("l2q kernel: exact quantized squared distance, symmetric rounding") {
    import spark.implicits._
    val df = Seq(
      (Array(1.0f, -2.5f, 0.0f), Array(0.5f, 2.5f, -1.0f)),
      // exact .5 micro ties are UNREACHABLE from float inputs —
      // (2k+1)/(2·10⁶) has a factor 5⁶ in the denominator, never a
      // dyadic rational — so pin the symmetric near-tie behavior
      // instead: ±0.6 micro must round to ±1 (a toward-+inf rounder
      // like Math.round would still agree here; the true tie guard is
      // QuantizedDot.q's shared unit tests) => d = 2, d^2 = 4
      (Array(0.0000006f, 0f, 0f), Array(-0.0000006f, 0f, 0f))
    ).toDF("a", "b")
    val got = df.select(expr("l2q(a, b)")).collect().map(_.getLong(0))
    // row 1: (1e6-5e5)^2 + (-25e5-25e5)^2 + (0-(-1e6))^2
    val exp0 = 500000L * 500000L + 5000000L * 5000000L + 1000000L * 1000000L
    assert(got(0) === exp0)
    assert(got(1) === 4L)
    // null array -> null
    val nr = Seq((null.asInstanceOf[Array[Float]], Array(1f)))
      .toDF("a", "b").select(expr("l2q(a, b)")).collect()
    assert(nr(0).isNullAt(0))
  }
}
