package graft.ml

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => Check}
import org.scalacheck.rng.Seed
import org.scalacheck.util.Pretty

import graft.SparkSpec

class HllSpec extends SparkSpec {

  /** Plain-Scala transcription of the three-round avalanche. */
  private def fin(v: Long): Long =
    Seq((2654435761L, 15), (2246822519L, 13), (3266489917L, 16)).foldLeft(v) {
      case (x, (k, s)) =>
        val y = (x * k) & Hll.Mask
        y ^ (y >> s)
    }
  private def mix(id: Long): Long = fin((id & Hll.Mask) ^ fin((id >> 30) & Hll.Mask))

  /** Expression nodes across every operator of a plan: the planning work
    * Catalyst repeats on each analyzer and optimizer pass.
    */
  private def exprNodes(df: DataFrame): (Int, Int) = {
    def count(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Int =
      p.collect { case op => op.expressions.map(_.collect { case e => e }.size).sum }.sum
    (count(df.queryExecution.analyzed), count(df.queryExecution.optimizedPlan))
  }

  private lazy val g = graphFrom(30, randomEdges(30, 120))

  test("withMix equals the plain-Scala avalanche on non-negative longs") {
    val s = spark
    import s.implicits._
    val ids: Gen[Long] = Gen.frequency(
      3 -> Gen.choose(0L, Hll.Mask),
      3 -> Gen.choose(Hll.Mask + 1, Long.MaxValue),
      1 -> Gen.oneOf(0L, 1L, Hll.Mask, Hll.Mask + 1, Long.MaxValue))
    val prop = Prop.forAll(Gen.nonEmptyListOf(ids)) { ks =>
      Hll.withMix(ks.toDF("k"), col("k"), "h").collect()
        .forall(r => r.getLong(1) == mix(r.getLong(0)))
    }
    val res = Check.check(
      Check.Parameters.default.withMinSuccessfulTests(20).withInitialSeed(Seed(20261018L)),
      prop)
    assert(res.passed, Pretty.pretty(res))
  }

  test("sampler draw columns stay small in the analyzed and optimized plans") {
    val s = spark
    import s.implicits._
    val seeds = Seq("v000000", "v000003")
    val salt = NeighborSample.hopSalt(42L, 0)
    val oidEdges = NeighborSample.oidEdges(g)
    val cand = seeds.toDF("seed").select(col("seed"), col("seed").as("parent"))
      .join(oidEdges, Seq("parent"))
    val seedFrame = NegativeSample.seedFrame(g, seeds)
    // the pick and draw frames hold the hash alone; the whole samplers
    // add joins, the interval ones also their prefix-sum windows
    val frames = Seq(
      ("neighbor pick", NeighborSample.slotPicks(cand, 2, salt), 400),
      ("ranked pick", NeighborSample.rankedPicks(cand, 2, byWeight = false, salt), 400),
      ("negative cand_id", NegativeSample.draws(seedFrame, 4, 8, salt, g.numVertices, "cand_id"), 400),
      ("negative sample", NegativeSample.sampleFrom(g, seedFrame, 4, 8, salt), 400),
      ("in-degree negative sample",
        NegativeSample.sampleIntervalFrom(g, seedFrame, 4, 8, salt, byNodeWeight = false), 800),
      ("edge-weight pick", NeighborSample.proportionalPicks(
        oidEdges, seeds.toDF("parent"), 3, salt, byInDegree = false), 800))
    for ((name, df, bound) <- frames) {
      val (analyzed, optimized) = exprNodes(df)
      assert(analyzed < bound && optimized < bound,
        s"$name: $analyzed analyzed / $optimized optimized expression nodes")
    }
  }
}
