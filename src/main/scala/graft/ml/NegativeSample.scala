package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.graph.LinkGraph
import graft.text.TextOps

/** GNN negative sampling — the learning plane's
  * `g.negative_sampler(type, expand_factor, strategy="random")` / GSL
  * `outNeg()` (reference
  * `docs/reference/gnn_engine/negative_sampling_en.rst:1-80`): for each
  * seed vertex, sample `f` vertices from the candidate set (vertices
  * that RECEIVE at least one edge — the edge-type candidate rule) that
  * are NOT out-neighbors of the seed and not the seed itself.
  *
  * Determinism (resume-safe, cross-engine): the reference's random
  * strategy redraws on collision; ours is the bounded deterministic
  * analog — slot `j` draws candidate ids `Hll.withMix(composite) % |V|`
  * for attempts `a = 0..A-1` (the dense id plane IS the draw space, so
  * no candidate indexing pass is needed) and keeps the first attempt
  * that lands on a valid negative. A slot whose whole redraw chain
  * lands on neighbors/non-candidates contributes no row (probability
  * ~(deg/|V|)^A — negligible off mega-hubs).
  *
  * Scale shape: draws are map-generated (|S|·f·A rows), validity is one
  * semi-join (candidate membership) + one anti-join (adjacency) on bare
  * ids, and the per-slot pick is a map-side-combined `min` over the
  * attempt index — never a window over an adjacency list and never a
  * |S|×|candidates| product. The avalanche (`Hll.withMix`, one fin pass for
  * composites < 2^30) is shared bit-for-bit with the DuckDB twin
  * (`SynthSql5.negativeSampleSql`), like `NeighborSample`'s pick hash.
  */
object NegativeSample {

  /** Returns (seed_oid, slot, neg_oid) — slot in 0..f-1; unknown seed
    * oids match nothing; exhausted slots contribute no row.
    */
  def sample(
      g: LinkGraph, seedOids: Seq[String], f: Int, attempts: Int = 8,
      pickSeed: Long = 42L): DataFrame =
    sampleFrom(g, seedFrame(g, seedOids), f, attempts, NeighborSample.hopSalt(pickSeed, 1))

  /** The bounded rejection draws of a (seed: oid, seed_id) frame:
    * (seed, seed_id, slot, attempt, `out`), where attempt `a` of slot
    * `j` draws avalanche(composite) % `range`. The seed's oid hash is
    * computed once per seed, before the slots and attempts fan out.
    */
  private[ml] def draws(
      seeds: DataFrame, f: Int, attempts: Int, salt: Long, range: Long,
      out: String): DataFrame = {
    require(f > 0 && attempts > 0, "fanout and attempts must be positive")
    val fanned = seeds
      .select(col("seed"), col("seed_id"), TextOps.portableHash(col("seed")).as("seed_h"))
      .select(col("*"), explode(sequence(lit(0), lit(f - 1))).as("slot"))
      .select(col("*"), explode(sequence(lit(0), lit(attempts - 1))).as("attempt"))
    Hll.withMix(fanned,
        (col("seed_h") * 31L + lit(salt) + col("slot").cast("long") * 104729L +
          col("attempt").cast("long") * 15485863L) % TextOps.HashP, out)
      .select(col("seed"), col("seed_id"), col("slot"), col("attempt"),
        (col(out) % range).as(out))
  }

  /** Frame-based core (the GSL `outNeg()` entry point): `seeds` carries
    * (seed: oid, seed_id); `salt` is the per-hop salt so a multi-hop
    * GSL chain draws independently per hop.
    */
  private[ml] def sampleFrom(
      g: LinkGraph, seeds: DataFrame, f: Int, attempts: Int,
      salt: Long): DataFrame = {
    val candIds = g.edges.toDF.select(col("dst").as("cand_id")).distinct()
    firstValid(g,
      draws(seeds, f, attempts, salt, g.numVertices, "cand_id")
        .join(candIds, Seq("cand_id"), "left_semi"))
  }

  /** The first surviving attempt per (seed, slot) of `drawn` (seed,
    * seed_id, slot, attempt, cand_id), rejecting the seed itself and its
    * out-neighbors, as (seed_oid, slot, neg_oid). Attempts are unique
    * within a (seed, slot) group, so min is the deterministic pick.
    */
  private def firstValid(g: LinkGraph, drawn: DataFrame): DataFrame = {
    val adjacency = g.edges.toDF
      .select(col("src").as("seed_id"), col("dst").as("cand_id"))
    drawn.where(col("cand_id") =!= col("seed_id"))
      .join(adjacency, Seq("seed_id", "cand_id"), "left_anti")
      .groupBy(col("seed"), col("slot"))
      .agg(min_by(col("cand_id"), col("attempt")).as("cand_id"))
      .join(g.vertices.toDF.select(col("id").as("cand_id"), col("oid").as("neg_oid")),
        Seq("cand_id"))
      .select(col("seed").as("seed_oid"), col("slot"), col("neg_oid"))
  }

  /** graphlearn `strategy="in_degree"` negative sampling (reference
    * `docs/reference/gnn_engine/negative_sampling_en.rst:95`,
    * `gsl_en.rst:273`): negatives drawn with probability proportional
    * to in-degree. Portable integer form — no float log/pow: each
    * candidate (a vertex with ≥1 in-edge) owns the disjoint interval
    * [lo, lo+indeg) laid out in dense-id order over [0, |E|); attempt
    * `a` of slot `j` draws u = avalanche(composite) % |E| and selects
    * the interval containing u, so a vertex's per-attempt draw
    * probability is exactly indeg/|E| (multi-edges weight their
    * endpoint multiply). The same bounded rejection chain as [[sample]]
    * then rejects the seed itself and out-neighbors and keeps the first
    * surviving attempt per slot.
    *
    * Scale shape: the interval table is a BUCKET-PARTITIONED two-phase
    * prefix sum (per-bucket totals → tiny broadcast bucket-offset frame
    * → within-bucket window bounded by `bucketSize` rows — never a
    * global |V| window; the [[graft.text.Packing]] sharding idea, here
    * order-preserving via bucket = id div bucketSize on the dense id
    * plane). Draw→interval matching is a BINNED range join: intervals
    * explode onto width-`binW` value bins (a candidate spans
    * ~indeg/binW bins — replication proportional to its own mass),
    * draws map to bin u div binW, equi-join on bin + range filter —
    * never an all-pairs inequality join. All arithmetic is integer and
    * shared bit-for-bit with the DuckDB twin
    * (`SynthSql7.negativeInDegreeSql`, which uses a plain ORDER BY id
    * window + inequality join — result-identical because the intervals
    * partition [0, |E|)).
    */
  def sampleInDegree(
      g: LinkGraph, seedOids: Seq[String], f: Int, attempts: Int = 8,
      pickSeed: Long = 42L, bucketSize: Int = 4096, binW: Int = 1024): DataFrame =
    sampleIntervalFrom(g, seedFrame(g, seedOids), f, attempts,
      NeighborSample.hopSalt(pickSeed, 1), byNodeWeight = false, bucketSize, binW)

  /** graphlearn `strategy="node_weight"` negative sampling
    * (`gsl_en.rst:273`): draw probability proportional to the vertex's
    * weight. The derived link graph has no standalone vertex-weight
    * property, so the analog is the weighted IN-STRENGTH — Σ of
    * incoming edge weights (occurrence counts), which is exactly what
    * "this vertex's weight in the data" means for a transcript graph
    * and stays integral, so the same portable interval machinery as
    * [[sampleInDegree]] applies (it differs from in_degree wherever a
    * link occurred more than once).
    */
  def sampleNodeWeight(
      g: LinkGraph, seedOids: Seq[String], f: Int, attempts: Int = 8,
      pickSeed: Long = 42L, bucketSize: Int = 4096, binW: Int = 1024): DataFrame =
    sampleIntervalFrom(g, seedFrame(g, seedOids), f, attempts,
      NeighborSample.hopSalt(pickSeed, 1), byNodeWeight = true, bucketSize, binW)

  private[ml] def seedFrame(g: LinkGraph, seedOids: Seq[String]): DataFrame = {
    val spark = g.vertices.sparkSession
    import spark.implicits._
    seedOids.toDF("seed").join(
      g.vertices.toDF.select(col("oid").as("seed"), col("id").as("seed_id")),
      Seq("seed"))
  }

  /** Frame-based interval-draw core of [[sampleInDegree]] /
    * [[sampleNodeWeight]] (the GSL
    * `outNeg().sample(f).by('in_degree'|'node_weight')` entry points).
    */
  private[ml] def sampleIntervalFrom(
      g: LinkGraph, seeds: DataFrame, f: Int, attempts: Int, salt: Long,
      byNodeWeight: Boolean,
      bucketSize: Int = 4096, binW: Int = 1024): DataFrame = {
    require(bucketSize > 0 && binW > 0, "bucketSize and binW must be positive")
    val edges = g.edges.toDF.select(col("src"), col("dst"), col("weight"))
    // exact integer division on non-negative longs — floor(double) is
    // exact for |E| < 2^53, far past any real edge count
    def idiv(c: Column, d: Long): Column = floor(c / d).cast("long")
    val indeg = edges.groupBy(col("dst").as("id")).agg(
      (if (byNodeWeight) sum(col("weight")).cast("long")
       else count(lit(1))).as("wgt"))
      .where(col("wgt") > 0)
    val bucketed = indeg.withColumn("bucket", idiv(col("id"), bucketSize.toLong))
    val btot = bucketed.groupBy(col("bucket")).agg(sum(col("wgt")).as("bt"))
    // running bucket offsets: numVertices/bucketSize rows — tiny by
    // construction, so the unpartitioned window and the broadcast are fine
    val offs = btot
      .withColumn("boff", sum(col("bt")).over(Window.orderBy(col("bucket"))) - col("bt"))
      .select(col("bucket"), col("boff"))
    val wIn = Window.partitionBy(col("bucket")).orderBy(col("id"))
    val cum = bucketed.join(broadcast(offs), Seq("bucket"))
      .withColumn("lo", col("boff") + sum(col("wgt")).over(wIn) - col("wgt"))
      .select(col("id").as("cand_id"), col("lo"), (col("lo") + col("wgt")).as("hi"))
    val total =
      if (byNodeWeight) edges.agg(sum(col("weight")).cast("long")).head.getLong(0)
      else edges.count()
    val bins = cum.select(col("cand_id"), col("lo"), col("hi"),
      explode(sequence(idiv(col("lo"), binW.toLong),
        idiv(col("hi") - 1, binW.toLong))).as("bin"))
    firstValid(g,
      draws(seeds, f, attempts, salt, total, "u")
        .withColumn("bin", idiv(col("u"), binW.toLong))
        .join(bins, Seq("bin"))
        .where(col("u") >= col("lo") && col("u") < col("hi")))
  }
}
