package graftbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.schema.{Edge, Turn, Vertex}
import graft.synth.Synth

/** The link graph derived by the benchmark itself from the generated rows,
  * without any graft code: reply links between consecutive turns of a
  * conversation (self-links dropped, label `reply`) plus assistant → tool
  * invocation links (label `invoke`), weight = occurrence count per label,
  * vertex id = rank of the oid in sort order. It is the reference the
  * program's outputs are checked against.
  */
final class RefGraph(val oids: Array[String], val labeled: Array[(Int, Int, String, Double)]) {
  val n: Int = oids.length
  val edges: Array[(Int, Int, Double)] = labeled.groupBy(e => (e._1, e._2)).iterator
    .map { case ((s, d), es) => (s, d, es.map(_._4).sum) }.toArray.sortBy(e => (e._1, e._2))
  val idOf: Map[String, Int] = oids.zipWithIndex.toMap
  val out: Array[Array[Int]] = {
    val b = Array.fill(n)(mutable.ArrayBuilder.make[Int])
    edges.foreach { case (s, d, _) => b(s) += d }
    b.map(_.result().sorted)
  }
  val hasIn: Array[Boolean] = {
    val a = new Array[Boolean](n)
    edges.foreach { case (_, d, _) => a(d) = true }
    a
  }
  def pairs: Seq[(Int, Int)] = edges.toSeq.map(e => (e._1, e._2))
  def weightSum: Double = edges.iterator.map(_._3).sum
  def outDegree(oid: String): Long = idOf.get(oid).map(out(_).length.toLong).getOrElse(0L)
  def twoHop(oid: String): Long =
    idOf.get(oid).map(v => out(v).iterator.map(out(_).length.toLong).sum).getOrElse(0L)
  def isEdge(src: String, dst: String): Boolean =
    (idOf.get(src), idOf.get(dst)) match {
      case (Some(s), Some(d)) => java.util.Arrays.binarySearch(out(s), d) >= 0
      case _ => false
    }

  /** Vertex label from the oid shape: tool, assistant, agent, system or user. */
  def label(oid: String): String =
    if (oid.startsWith("tool:")) "tool"
    else if (oid.startsWith("assistant")) "assistant"
    else if (oid.startsWith("agent:")) "agent"
    else if (oid == "system") "system"
    else "user"

  /** Writes the link graph as parquet (`vertices`, `edges`) under `dir`. */
  def write(spark: SparkSession, dir: Path): Unit = {
    import spark.implicits._
    oids.toSeq.zipWithIndex.map { case (o, i) => Vertex(i.toLong, o) }.toDS()
      .write.parquet(dir.resolve("vertices").toString)
    edges.toSeq.map { case (s, d, w) => Edge(s.toLong, d.toLong, w) }.toDS()
      .write.parquet(dir.resolve("edges").toString)
  }

  /** Writes the labelled property graph as parquet (`pvertices`, `pedges`). */
  def writeLabeled(spark: SparkSession, dir: Path): Unit = {
    import spark.implicits._
    oids.toSeq.zipWithIndex.map { case (o, i) => (i.toLong, o, label(o)) }.toDF("id", "oid", "label")
      .write.parquet(dir.resolve("pvertices").toString)
    labeled.toSeq.map { case (s, d, l, w) => (s.toLong, d.toLong, l, w) }
      .toDF("src", "dst", "label", "weight")
      .write.parquet(dir.resolve("pedges").toString)
  }
}

/** Seeded inputs. The seed picks the conversation window
  * `[w·N, w·N + N)` with `N = Synth.nConvs(sf)` and `w = seed mod Windows`,
  * so every seed draws a graph of the same shape from a different stretch
  * of the synthetic corpus. Everything here runs before any timing starts.
  */
object Inputs {

  /** Number of distinct windows. Keeps conversation indices below 10^10 at
    * the benchmark's scales, where `Synth`'s hash stays below 2^62 and the
    * turn timestamps stay inside Spark's microsecond range; larger indices
    * overflow both.
    */
  val Windows = 1000000L

  def window(seed: Long, sf: Double): (Long, Long) = {
    val n = Synth.nConvs(sf)
    val w = Math.floorMod(seed, Windows)
    (w * n, w * n + n)
  }

  def turnsOf(c: Long, sf: Double): Iterator[Turn] =
    (0L until Synth.turnsPerConv(c).toLong).iterator.map(i => Synth.turn(c, i, sf))

  /** Writes the window's transcript rows as parquet, generated row by row
    * through `Synth.turnsPerConv` / `Synth.turn`.
    */
  def writeTranscripts(spark: SparkSession, seed: Long, sf: Double, dir: Path): Unit = {
    import spark.implicits._
    val (lo, hi) = window(seed, sf)
    val parts = spark.sparkContext.defaultParallelism
    spark.range(lo, hi, 1, parts).as[Long]
      .flatMap(c => turnsOf(c, sf).toSeq)
      .write.parquet(dir.toString)
  }

  def refGraph(seed: Long, sf: Double): RefGraph = {
    val (lo, hi) = window(seed, sf)
    val weights = mutable.HashMap.empty[(String, String, String), Int]
    val vset = mutable.HashSet.empty[String]
    def link(a: String, b: String, l: String): Unit =
      weights((a, b, l)) = weights.getOrElse((a, b, l), 0) + 1
    var c = lo
    while (c < hi) {
      var prev: String = null
      turnsOf(c, sf).foreach { t =>
        val oid = if (t.role == "tool" && t.tool.isDefined) "tool:" + t.tool.get else t.role
        vset += oid
        if (prev != null && prev != oid) link(prev, oid, "reply")
        if (t.role.startsWith("assistant")) t.tool.foreach { tl =>
          vset += "tool:" + tl
          link(oid, "tool:" + tl, "invoke")
        }
        prev = oid
      }
      c += 1
    }
    val oids = vset.toArray.sorted
    val id = oids.zipWithIndex.toMap
    val labeled = weights.iterator.map { case ((a, b, l), w) => (id(a), id(b), l, w.toDouble) }
      .toArray.sortBy(e => (e._1, e._2, e._3))
    new RefGraph(oids, labeled)
  }

  /** `n` unit vectors of dimension `dim` scattered around 32 seeded
    * centres, so exact top-k neighbourhoods are well defined.
    */
  def corpus(seed: Long, n: Int, dim: Int): Array[Array[Double]] = {
    val rnd = new java.util.SplittableRandom(seed * 7919L + 17L)
    val centres = Array.fill(32, dim)(rnd.nextDouble() * 2 - 1)
    Array.fill(n) {
      val c = centres(rnd.nextInt(centres.length))
      val v = c.map(x => x + 0.6 * (rnd.nextDouble() * 2 - 1))
      val norm = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / norm)
    }
  }

  def writeCorpus(spark: SparkSession, vecs: Array[Array[Double]], dir: Path): Unit = {
    import spark.implicits._
    vecs.toSeq.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("id", "vec")
      .write.parquet(dir.toString)
  }

  /** Exact float inner-product top-k of `q` over the corpus (ties to the
    * smaller id), excluding `q` itself.
    */
  def exactTopK(vecs: Array[Array[Double]], q: Int, k: Int): Seq[Int] = {
    val qv = vecs(q)
    vecs.indices.iterator.filter(_ != q)
      .map(i => (i, dot(qv, vecs(i))))
      .toSeq.sortBy { case (i, s) => (-s, i) }.take(k).map(_._1)
  }

  /** SQ8 top-k recomputed from its definition: symmetric global scale
    * `M = max |x|`, `code = clamp(floor(x / M · 127 + 0.5), −127, 127)`,
    * integer code dot, ties to the smaller id.
    */
  final class Sq8(vecs: Array[Array[Double]]) {
    private val m = vecs.iterator.map(_.iterator.map(math.abs).max).max
    private val codes: Array[Array[Long]] = vecs.map(_.map { x =>
      math.min(math.max(math.floor(x / m * 127.0 + 0.5), -127.0), 127.0).toLong
    })
    def topK(q: Int, k: Int): Seq[(Int, Long)] = {
      val qc = codes(q)
      codes.indices.iterator.filter(_ != q)
        .map { i =>
          val c = codes(i)
          var s = 0L
          var j = 0
          while (j < c.length) { s += qc(j) * c(j); j += 1 }
          (i, s)
        }
        .toSeq.sortBy { case (i, s) => (-s, i) }.take(k)
    }
  }

  def dot(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }

  def writeLines(p: Path, lines: Seq[String]): Unit =
    Files.write(p, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
}
