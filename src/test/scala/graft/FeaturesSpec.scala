package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.ops.Features

/** Hashing-trick featurizer: exact signed term frequencies, width bound,
  * sign consistency, repeated-token additivity. */
class FeaturesSpec extends AnyFunSuite with BeforeAndAfterAll {

  @transient lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("repeated token accumulates |weight| = count on one dim") {
    import spark.implicits._
    val docs = Seq((1L, "zebra zebra zebra")).toDF("doc_id", "text")
    val out = Features.hashFeatures(docs, dims = 64).collect()
    assert(out.length === 1)
    assert(math.abs(out.head.getLong(2)) === 3L)
    assert(out.head.getLong(1) >= 0L && out.head.getLong(1) < 64L)
  }

  test("weights are additive over docs sharing tokens; dims within width") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "alpha alpha beta")).toDF("doc_id", "text")
    val out = Features.hashFeatures(docs, dims = 256)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(out.keys.forall { case (_, d) => d >= 0 && d < 256 })
    // same token → same dim and sign in every doc: alpha's weight in doc2
    // is exactly 2× its weight in doc1 (assuming no collision at D=256
    // over 4 distinct tokens — verified by the distinct-dim count)
    val d1 = out.filter(_._1._1 == 1L)
    assert(d1.size === 4, s"collision in test tokens: $d1")
    val alphaDim = Features.hashFeatures(
      Seq((9L, "alpha")).toDF("doc_id", "text"), dims = 256)
      .collect().head
    val aDim = alphaDim.getLong(1); val aSign = alphaDim.getLong(2)
    assert(d1((1L, aDim)) === aSign)
    assert(out((2L, aDim)) === 2 * aSign)
  }

  test("partition invariance") {
    import spark.implicits._
    val docs = (0 until 200).map(i =>
      (i.toLong, (0 until 30).map(j => s"t${(i * 31 + j) % 500}").mkString(" ")))
      .toDF("doc_id", "text")
    val a = Features.hashFeatures(docs.repartition(1), dims = 128)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val b = Features.hashFeatures(docs.repartition(7), dims = 128)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(a === b)
  }

  test("cosineTopK: hand-checkable ranking, self excluded, k bound") {
    import spark.implicits._
    // doc 1 and 2 identical text → cos exactly 1.0 and rank 1 for each
    // other; doc 3 disjoint vocabulary → cos from collisions only
    val docs = Seq(
      (1L, "red green blue"),
      (2L, "red green blue"),
      (3L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text")
    val feat = Features.hashFeatures(docs, dims = 256)
    val out = Features.cosineTopK(feat, docs, k = 2)
      .collect().map(r => ((r.getLong(0), r.getLong(2)), (r.getLong(1), r.getDouble(3))))
      .toMap
    assert(out((1L, 1L)) === ((2L, 1.0)))
    assert(out((2L, 1L)) === ((1L, 1.0)))
    // no self pairs anywhere
    assert(out.forall { case ((q, _), (n, _)) => q != n })
    // k bound respected: at most 2 ranks per query
    assert(out.keys.map(_._2).max <= 2L)
  }

  test("cosineTopK: exact-tie neighbors break by ascending id") {
    import spark.implicits._
    // docs 20 and 30 have identical text → identical cosine to query 1;
    // the tie must resolve to the smaller id first
    val docs = Seq(
      (1L, "red green"),
      (20L, "red green"),
      (30L, "red green")).toDF("doc_id", "text")
    val feat = Features.hashFeatures(docs, dims = 64)
    val r = Features.cosineTopK(feat, docs.filter(col("doc_id") === 1L), k = 2)
      .orderBy(col("rank")).collect()
    assert(r.map(_.getLong(1)).toSeq === Seq(20L, 30L))
    assert(r.forall(_.getDouble(3) === 1.0))
  }

  test("cosineTopK: a zero-norm vector has no neighbors and is no neighbor") {
    import spark.implicits._
    // doc 3's weights all cancel to 0: its cosine with anything is 0/0
    val feat = Seq((1L, 0L, 2L), (1L, 1L, 1L), (2L, 0L, 1L), (2L, 1L, 1L),
      (3L, 0L, 0L), (3L, 1L, 0L)).toDF("doc_id", "dim", "weight")
    val out = Features.cosineTopK(feat, feat.select("doc_id").distinct(), k = 5).collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet ===
      Set((1L, 2L, 1L), (2L, 1L, 1L)))
    assert(out.forall(r => !r.isNullAt(3) && !r.getDouble(3).isNaN))
    assert(out.head.getDouble(3) === 0.9487)
  }

  test("non-power-of-two width rejected") {
    import spark.implicits._
    intercept[IllegalArgumentException] {
      Features.hashFeatures(Seq((1L, "x")).toDF("doc_id", "text"), dims = 100)
    }
  }
}
