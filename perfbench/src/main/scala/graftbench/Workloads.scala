package graftbench

import java.nio.file.{Files, Path}
import java.util.Comparator

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.algos.{CDLP, PageRank, Triangles, WCC}
import graft.engine.CheckpointConfig
import graft.engine.Engine.MetricsLog
import graft.gie.Gremlin
import graft.graph.{GraphBuilder, LinkGraph, PropertyGraph}
import graft.ingest.SnapshotStore
import graft.ml.{NegativeSample, NeighborSample, Quantize}
import graft.oracle.Oracle
import graft.schema.{Edge, Vertex}
import graft.synth.Synth

/** Shared checks and helpers. */
object Check {

  /** (src, dst) → weight of a collected (src, dst, weight) edge frame. */
  def edgeMap(rows: Array[Row]): Map[(Long, Long), Double] =
    rows.map(r => (r.getAs[Long]("src"), r.getAs[Long]("dst")) -> r.getAs[Double]("weight")).toMap

  def sameEdges(got: Map[(Long, Long), Double], ref: RefGraph): Option[String] = {
    val want = ref.edges.iterator.map { case (s, d, w) => (s.toLong, d.toLong) -> w }.toMap
    val gotW = got.values.sum
    if (got.size != want.size) Some(s"|E| ${got.size} != ${want.size}")
    else if (math.abs(gotW - ref.weightSum) > 1e-6) Some(s"sum(weight) $gotW != ${ref.weightSum}")
    else want.find { case (k, w) => !got.get(k).contains(w) }
      .map { case (k, w) => s"edge $k: ${got.get(k)} != $w" }
  }

  def longMap(rows: Array[Row], v: String): Map[Long, Long] =
    rows.map(r => r.getAs[Long]("id") -> r.getAs[Long](v)).toMap

  def exact(what: String, got: Map[Long, Long], want: Int => Long, n: Int): Option[String] =
    if (got.size != n) Some(s"$what: ${got.size} rows != $n")
    else (0 until n).find(i => !got.get(i.toLong).contains(want(i)))
      .map(i => s"$what: vertex $i ${got.get(i.toLong)} != ${want(i)}")

  def ranksClose(rows: Array[Row], want: Array[Double]): Option[String] = {
    val got = rows.map(r => r.getAs[Long]("id") -> r.getAs[Double]("rank")).toMap
    if (got.size != want.length) Some(s"pagerank: ${got.size} rows != ${want.length}")
    else want.indices.find(i => got.get(i.toLong).forall(g => math.abs(g - want(i)) > 1e-6 * math.abs(want(i))))
      .map(i => s"pagerank: vertex $i ${got.get(i.toLong)} != ${want(i)} (rel 1e-6)")
  }

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) Files.walk(p).sorted(Comparator.reverseOrder[Path]()).forEach(Files.delete(_))

  def steps(log: MetricsLog, ctx: Runner#Ctx): Unit = {
    ctx.extra("supersteps") = log.iterations
    ctx.extra("superstep_s") = log.all.map(_.seconds)
    ctx.extra("superstep_edges") = log.all.map(_.edgesProcessed)
  }
}

/** The batch job: derive the link graph and the labelled property graph
  * from the transcripts (graph layer: one large sort/window, a dense
  * ranking and a pair aggregation per op, no fixpoint loops), then run the
  * BSP analytics (engine + algorithms, iterative and shuffle-bound) on the
  * same graph, loaded from parquet at set-up so that derivation does no
  * work inside the analytics ops: PageRank (10 rounds), the same PageRank
  * with a per-round snapshot checkpoint, WCC to its fixpoint, CDLP (10
  * rounds) and triangle counting. One round runs every op once.
  */
final class Batch extends Workload {
  val sf = 0.0005
  def minRounds: Int = 1
  def scale: Map[String, Any] = Map("sf" -> sf, "conversations" -> Synth.nConvs(sf),
    "vertices" -> ref.n, "edges" -> ref.edges.length)

  private var ref: RefGraph = _
  private var pr: Array[Double] = _
  private var wcc: Array[Int] = _
  private var cdlp: Array[Long] = _
  private var tri: Array[Long] = _
  private var turns: DataFrame = _
  private var g: LinkGraph = _

  def generate(spark: SparkSession, seed: Long, dir: Path): Unit = {
    Inputs.writeTranscripts(spark, seed, sf, dir.resolve("transcripts"))
    ref = Inputs.refGraph(seed, sf)
    ref.write(spark, dir.resolve("graph"))
    val pairs = ref.pairs
    pr = Oracle.pageRank(ref.n, pairs, 0.85, 10)
    wcc = Oracle.wcc(ref.n, pairs)
    cdlp = Oracle.cdlp(ref.n, pairs, 10)
    tri = Oracle.triangles(ref.n, pairs)
  }

  def setup(spark: SparkSession, dir: Path): Unit = {
    import spark.implicits._
    turns = spark.read.parquet(dir.resolve("transcripts").toString)
    g = LinkGraph(
      spark.read.parquet(dir.resolve("graph/vertices").toString).as[Vertex],
      spark.read.parquet(dir.resolve("graph/edges").toString).as[Edge]).persist()
    g.vertices.count()
    g.edges.count()
  }

  def round(r: Runner, n: Int): Unit = {
    derive(r, n)
    analytics(r, n)
  }

  private def derive(r: Runner, n: Int): Unit = {
    val spark = r.spark
    val out = r.scratch.resolve("graph")
    r.op("graph.derive", n) { _ =>
      val g = GraphBuilder.fromTranscripts(turns)
      g.vertices.write.mode("overwrite").parquet(out.resolve("vertices").toString)
      g.edges.write.mode("overwrite").parquet(out.resolve("edges").toString)
    } { (_, ctx) =>
      val vs = spark.read.parquet(out.resolve("vertices").toString).collect()
      val es = Check.edgeMap(spark.read.parquet(out.resolve("edges").toString).collect())
      ctx.rows = es.size
      val oidsOk = vs.length == ref.n &&
        vs.forall(v => v.getAs[Long]("id") < ref.n && ref.oids(v.getAs[Long]("id").toInt) == v.getAs[String]("oid"))
      if (!oidsOk) Some(s"vertices differ from the reference ranking (${vs.length} vs ${ref.n})")
      else Check.sameEdges(es, ref)
    }
    r.op("graph.pgraph", n) { ctx =>
      val pg = PropertyGraph.fromTranscripts(turns)
      pg.vertices.persist()
      pg.edges.persist()
      ctx.rows = pg.edges.count()
      pg.vertices.count()
      pg
    } { (pg, _) =>
      val flat = Check.edgeMap(pg.flatten.edges.toDF.collect())
      val nv = pg.vertices.count()
      // Drop what the derive ops cached, so the next round starts cold
      // again, and re-pin the analytics graph.
      spark.catalog.clearCache()
      g.persist()
      g.vertices.count()
      g.edges.count()
      if (nv != ref.n) Some(s"pgraph |V| $nv != ${ref.n}")
      else Check.sameEdges(flat, ref)
    }
  }

  private def analytics(r: Runner, n: Int): Unit = {
    r.op("algos.pagerank", n) { ctx =>
      val log = new MetricsLog
      val out = PageRank.run(g, PageRank.Config(0.85, 10), log).collect()
      Check.steps(log, ctx)
      out
    } { (rows, _) => Check.ranksClose(rows, pr) }

    val store = r.scratch.resolve("snapshots")
    Check.deleteTree(store)
    r.op("ingest.pagerank_ckpt", n) { ctx =>
      val log = new MetricsLog
      val ck = CheckpointConfig(new SnapshotStore(store.toString), "pagerank", every = 1)
      val out = PageRank.run(g, PageRank.Config(0.85, 10), log, Some(ck)).collect()
      Check.steps(log, ctx)
      out
    } { (rows, ctx) =>
      ctx.extra("write_bytes") = Check.dirBytes(store)
      Check.deleteTree(store)
      Check.ranksClose(rows, pr)
    }

    r.op("algos.wcc", n) { ctx =>
      val log = new MetricsLog
      val out = WCC.run(g, Int.MaxValue, log).collect()
      Check.steps(log, ctx)
      out
    } { (rows, _) => Check.exact("wcc", Check.longMap(rows, "comp"), wcc(_).toLong, ref.n) }

    r.op("algos.cdlp", n) { ctx =>
      val log = new MetricsLog
      val out = CDLP.run(g, 10, log).collect()
      Check.steps(log, ctx)
      out
    } { (rows, _) => Check.exact("cdlp", Check.longMap(rows, "label"), cdlp(_), ref.n) }

    r.op("algos.triangles", n) { _ => Triangles.run(g).collect() } { (rows, _) =>
      Check.exact("triangles", Check.longMap(rows, "triangles"), tri(_), ref.n)
    }
  }
}

/** GIE + ML, latency-bound: a seeded request list of small queries
  * against a graph and an ANN corpus pinned at set-up. The request kinds
  * repeat in a fixed cycle (see [[cycle]]); the seed draws each request's
  * parameters (users, query vectors). One round is one request; a run
  * makes at least the first pass, so every kind is called.
  */
final class Serve extends Workload {
  val sf = 0.0005
  val corpusSize = 5000
  val dim = 64
  val k = 10
  val listLength = 100
  /** Request kind → weight in one cycle of the request list. */
  val mix: Seq[(String, Int)] = Seq(
    "gie.hop1" -> 3, "gie.hop2" -> 3, "gie.cr2" -> 2, "gie.cr12" -> 2, "gie.cr1" -> 1,
    "gie.cr6" -> 1, "ml.neighbor_sample" -> 2, "ml.negative_sample" -> 2,
    "ml.ann_sq8" -> 2, "ml.ann_pq" -> 2)
  def minRounds: Int = mix.size
  def scale: Map[String, Any] = Map("sf" -> sf, "conversations" -> Synth.nConvs(sf),
    "corpus" -> corpusSize, "dim" -> dim, "k" -> k, "mix" -> mix.toMap)

  private var ref: RefGraph = _
  private var vecs: Array[Array[Double]] = _
  private var sq8: Inputs.Sq8 = _
  private var requests: IndexedSeq[(String, Seq[String])] = _
  private var g: LinkGraph = _
  private var pg: PropertyGraph = _
  private var corpus: DataFrame = _

  /** One cycle of the request list: pass p holds every kind of weight
    * at least p, so the first pass calls each kind once and a full cycle
    * holds the mix exactly.
    */
  val cycle: Seq[String] =
    (1 to mix.map(_._2).max).flatMap(p => mix.collect { case (kind, w) if w >= p => kind })

  def generate(spark: SparkSession, seed: Long, dir: Path): Unit = {
    ref = Inputs.refGraph(seed, sf)
    ref.write(spark, dir.resolve("graph"))
    ref.writeLabeled(spark, dir.resolve("graph"))
    vecs = Inputs.corpus(seed, corpusSize, dim)
    sq8 = new Inputs.Sq8(vecs)
    Inputs.writeCorpus(spark, vecs, dir.resolve("corpus"))
    val rnd = new scala.util.Random(seed)
    val users = Synth.nUsers(sf)
    def user() = "u" + (math.abs(rnd.nextLong()) % users)
    def params(kind: String): Seq[String] = kind match {
      case "ml.neighbor_sample" | "ml.negative_sample" => Seq.fill(4)(user())
      case "ml.ann_sq8" | "ml.ann_pq" => Seq.fill(2)(rnd.nextInt(corpusSize).toString)
      case _ => Seq(user())
    }
    val kinds = Iterator.continually(cycle).flatten.take(listLength).toSeq
    Inputs.writeLines(dir.resolve("requests.tsv"),
      kinds.map(kind => s"$kind\t${params(kind).mkString(",")}"))
  }

  def setup(spark: SparkSession, dir: Path): Unit = {
    import spark.implicits._
    requests = Files.readAllLines(dir.resolve("requests.tsv")).asScala.toIndexedSeq
      .map(_.split("\t")).map(a => (a(0), a(1).split(",").toSeq))
    def read(name: String) = spark.read.parquet(dir.resolve(name).toString)
    g = LinkGraph(read("graph/vertices").as[Vertex], read("graph/edges").as[Edge]).persist()
    g.vertices.count()
    g.edges.count()
    pg = PropertyGraph(read("graph/pvertices").persist(), read("graph/pedges").persist())
    pg.vertices.count()
    pg.edges.count()
    corpus = read("corpus").persist()
    corpus.count()
  }

  private def gremlin(kind: String, u: String): String = kind match {
    case "gie.hop1" => s"g.V('$u').out().count()"
    case "gie.hop2" => s"g.V('$u').out().out().count()"
    case "gie.cr1" =>
      s"g.V().has('user','oid','$u').out('reply')" +
        ".union(identity(), out('reply').union(identity(), out('reply')))" +
        ".dedup().by('id').has('oid', TextP.startingWith('u')).as('a')" +
        ".path().count(local).as('b').select('a')" +
        ".order().by(select('b'), incr).by('oid').by('id').limit(20)" +
        ".select('a', 'b')"
    case "gie.cr2" =>
      s"g.V().has('user','oid','$u').out('reply').as('p')" +
        ".in('reply').has('oid', P.lte('u4')).as('m')" +
        ".order().by('oid', desc).by(select('p'), asc).limit(20)" +
        ".select('p', 'm')"
    case "gie.cr6" =>
      s"g.V().has('user','oid','$u').out('reply')" +
        s".union(identity(), out('reply')).dedup().has('oid', P.neq('$u'))" +
        ".filter(__.outE('invoke').has('weight', P.gte(2)))" +
        ".out('invoke').groupCount().by('oid')" +
        ".order().by(select(values), desc).by(select(keys), asc).limit(10)"
    case "gie.cr12" =>
      s"g.V().has('user','oid','$u').out('reply').as('friend')" +
        ".outE('invoke').has('weight', P.gte(2)).inV()" +
        ".filter(__.in('invoke').dedup().count().is(P.gte(3)))" +
        ".select('friend').groupCount().by('oid')" +
        ".order().by(select(values), desc).by(select(keys), asc).limit(20)"
  }

  def round(r: Runner, n: Int): Unit = {
    val (kind, ps) = requests((n - 1) % requests.size)
    val label = ps.mkString(",")
    kind match {
      case "gie.hop1" | "gie.hop2" =>
        r.op(kind, n, label) { ctx => runGremlin(ctx, Some(g), kind, ps.head) } { (rows, ctx) =>
          val want = if (kind == "gie.hop1") ref.outDegree(ps.head) else ref.twoHop(ps.head)
          val got = rows.head.getLong(0)
          if (got != want) Some(s"count $got != $want") else None
        }
      case _ if kind.startsWith("gie.") =>
        r.op(kind, n, label) { ctx => runGremlin(ctx, None, kind, ps.head) } { (_, _) => None }
      case "ml.neighbor_sample" =>
        r.op(kind, n, label) { ctx =>
          val rows = NeighborSample.sample(g, ps, Seq(4, 2)).collect()
          ctx.rows = rows.length
          rows
        } { (rows, _) =>
          rows.find { row =>
            val parent = row.getAs[String]("parent_oid")
            !ref.isEdge(parent, row.getAs[String]("child_oid")) ||
            (row.getAs[Int]("hop") == 1 && parent != row.getAs[String]("seed_oid"))
          }.map(row => s"sampled pair is not an out-edge: $row")
        }
      case "ml.negative_sample" =>
        r.op(kind, n, label) { ctx =>
          val rows = NegativeSample.sample(g, ps, 4).collect()
          ctx.rows = rows.length
          rows
        } { (rows, _) =>
          rows.find { row =>
            val s = row.getAs[String]("seed_oid")
            val neg = row.getAs[String]("neg_oid")
            neg == s || ref.isEdge(s, neg) || !ref.idOf.get(neg).exists(ref.hasIn)
          }.map(row => s"negative is a neighbour, the seed, or never a target: $row")
        }
      case "ml.ann_sq8" | "ml.ann_pq" =>
        val qs = ps.map(_.toLong)
        r.op(kind, n, label) { ctx =>
          val df =
            if (kind == "ml.ann_sq8") Quantize.sq8TopK(corpus, "id", "vec", qs, k)
            else Quantize.pqTopK(corpus, "id", "vec", qs, k)
          val rows = df.collect()
          ctx.rows = rows.length
          rows
        } { (rows, ctx) => annCheck(kind, qs, rows, ctx) }
    }
  }

  private def runGremlin(ctx: Runner#Ctx, g: Option[LinkGraph], kind: String, u: String): Array[Row] = {
    val t0 = System.nanoTime()
    val df = g.map(Gremlin.run(_, gremlin(kind, u))).getOrElse(Gremlin.run(pg, gremlin(kind, u)))
    ctx.lowerS = (System.nanoTime() - t0) / 1e9
    val rows = df.collect()
    ctx.rows = rows.length
    rows
  }

  private def annCheck(kind: String, qs: Seq[Long], rows: Array[Row], ctx: Runner#Ctx): Option[String] = {
    val byQ = rows.groupBy(_.getAs[Long]("query_id")).map { case (q, rs) =>
      q -> rs.sortBy(_.getAs[Int]("rank")).toSeq
    }
    val recall = qs.map { q =>
      val exact = Inputs.exactTopK(vecs, q.toInt, k).toSet
      byQ.getOrElse(q, Nil).count(r => exact(r.getAs[Long]("neighbor_id").toInt)).toDouble / k
    }
    ctx.extra("recall") = recall.sum / recall.size
    qs.iterator.map { q =>
      val got = byQ.getOrElse(q, Nil)
      val ids = got.map(_.getAs[Long]("neighbor_id"))
      if (got.map(_.getAs[Int]("rank")) != (1 to k)) Some(s"query $q: ranks ${got.map(_.getAs[Int]("rank"))}")
      else if (ids.distinct.size != k || ids.exists(i => i == q || i < 0 || i >= corpusSize))
        Some(s"query $q: bad neighbour ids $ids")
      else if (kind == "ml.ann_sq8") {
        val want = sq8.topK(q.toInt, k).map { case (i, s) => (i.toLong, s) }
        val have = got.map(r => (r.getAs[Long]("neighbor_id"), r.getAs[Long]("score")))
        if (have != want) Some(s"query $q: sq8 top-k $have != $want") else None
      } else None
    }.collectFirst { case Some(e) => e }
  }
}
