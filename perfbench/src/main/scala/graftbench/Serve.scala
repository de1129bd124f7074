package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Ann, GraphIndexCache}
import graft.sql.VectorSql

/** One generated statement of the serve stream. */
final case class Stmt(cls: String, table: String, sql: String)

object Serve {
  val Flat = "vec_flat"
  val Ivf = "vec_ivf"
  val Graph = "vec_graph"
  val Tables: Seq[String] = Seq(Flat, Ivf, Graph)
  val Metrics: Seq[String] = Seq("euclidean", "cosine", "dotproduct", "manhattan")
  val ReadClasses: Seq[String] = Seq("exact", "ivf", "graph", "lookup", "agg")
  val WriteClasses: Seq[String] = Seq("insert", "update", "delete")
  val Classes: Seq[String] = ReadClasses ++ WriteClasses
  /** One deck of the stream: 17 reads and 6 writes in a fixed order, so
    * every read meets the same depth of un-compacted DML in every run;
    * the seed draws each statement's vector, ids, labels and metric.
    * Exact searches are the largest read class, so the read median is an
    * exact-search latency; the graph route is the slowest class.
    */
  val Deck: Seq[String] = Seq("exact", "insert", "ivf", "lookup", "exact",
    "update", "agg", "exact", "ivf", "delete", "exact", "lookup", "graph",
    "insert", "exact", "ivf", "update", "agg", "exact", "lookup", "ivf",
    "delete", "exact")
  /** Operation time of one deck at sf0.1 on 4 cores; a run measures
    * `ceil(seconds / DeckSeconds)` decks, a fixed amount of work.
    */
  val DeckSeconds = 8.0
  /** Each collection is compacted after this many writes to it. */
  val CompactEvery = 3
  val K = 10
}

/** Seeded statement stream over a corpus of `(id, vector, label)` rows
  * with ids "0" .. "n-1", dealt in [[Serve.Deck]]s. Query and
  * insert vectors are perturbations of corpus rows; inserted ids
  * continue after the corpus, so they are fresh; writes, and lookups
  * and aggregates, go to the three collections in turn. The stream is a
  * pure function of the seed and the corpus.
  */
final class ServeStream(seed: Long, corpus: IndexedSeq[Array[Float]]) {
  import Serve._
  private val rnd = new java.util.Random(seed)
  private var nextId = corpus.size
  private val n = corpus.size
  private var dealt: Iterator[String] = Iterator.empty
  private var writes = 0
  private var scans = 0

  private def pick[A](xs: Seq[A]): A = xs(rnd.nextInt(xs.size))

  private def vector(): Array[Float] = {
    val base = corpus(rnd.nextInt(n))
    base.map(x => (x + rnd.nextGaussian() * 0.02).toFloat)
  }

  private def lit(v: Array[Float]): String =
    v.map(java.lang.Float.toString).mkString("[", ", ", "]")

  private def label(): String = rnd.nextInt(10).toString

  private def writeTarget(): String = { writes += 1; Tables((writes - 1) % Tables.size) }
  private def scanTarget(): String = { scans += 1; Tables((scans - 1) % Tables.size) }

  def next(): Stmt = {
    if (!dealt.hasNext) dealt = Deck.iterator
    val cls = dealt.next()
    val sel = "SELECT id, distance, metadata.label FROM"
    cls match {
      case "exact" =>
        val filter = if (rnd.nextInt(3) == 0) {
          val a = label(); val b = label()
          s" WHERE metadata.label IN ('$a', '$b')"
        } else ""
        Stmt(cls, Flat, s"$sel $Flat NEAREST TO ${lit(vector())} " +
          s"USING ${pick(Metrics)}$filter LIMIT $K")
      case "ivf" =>
        Stmt(cls, Ivf, s"$sel $Ivf NEAREST TO ${lit(vector())} " +
          s"USING ${pick(Seq("cosine", "euclidean"))} LIMIT $K")
      case "graph" =>
        Stmt(cls, Graph, s"$sel $Graph NEAREST TO ${lit(vector())} " +
          s"USING euclidean LIMIT $K")
      case "lookup" =>
        val t = scanTarget()
        Stmt(cls, t, s"SELECT id, metadata.label FROM $t WHERE id = '${rnd.nextInt(n)}'")
      case "agg" =>
        val t = scanTarget()
        Stmt(cls, t, s"SELECT metadata.label, COUNT(*) FROM $t GROUP BY metadata.label")
      case "insert" =>
        val t = writeTarget()
        val id = nextId; nextId += 1
        Stmt(cls, t, s"INSERT INTO $t (id, vector, metadata.label) " +
          s"VALUES ('$id', ${lit(vector())}, '${label()}')")
      case "update" =>
        val t = writeTarget()
        Stmt(cls, t, s"UPDATE $t SET metadata.label = '${label()}' " +
          s"WHERE id = '${rnd.nextInt(n)}'")
      case "delete" =>
        val t = writeTarget()
        Stmt(cls, t, s"DELETE FROM $t WHERE id = '${rnd.nextInt(n)}'")
    }
  }
}

/** In-memory copy of every collection that applies the same DML as the
  * engine and answers each read exactly, so the engine's answers can be
  * checked outside the timed region.
  */
final class Mirror(corpus: IndexedSeq[(String, Array[Float], String)]) {
  import Serve._
  private val tables: Map[String, mutable.LinkedHashMap[String, (Array[Float], String)]] =
    Tables.map { t =>
      val m = mutable.LinkedHashMap[String, (Array[Float], String)]()
      corpus.foreach { case (id, v, l) => m(id) = (v, l) }
      t -> m
    }.toMap

  def size(t: String): Long = tables(t).size.toLong

  def apply(stmt: Stmt): Unit = VectorSql.parse(stmt.sql) match {
    case VectorSql.Insert(t, id, vec, meta) =>
      tables(t)(id) = (vec.toArray, meta.getOrElse("label", null))
    case VectorSql.Update(t, sets, Some(VectorSql.Cmp(VectorSql.FieldE("id"), "=", VectorSql.StrE(id)))) =>
      tables(t).get(id).foreach { case (v, _) => tables(t)(id) = (v, sets("metadata.label")) }
    case VectorSql.Delete(t, Some(VectorSql.Cmp(VectorSql.FieldE("id"), "=", VectorSql.StrE(id)))) =>
      tables(t).remove(id)
    case _ => ()
  }

  /** Distance exactly as the engine's kernel computes it (float inputs
    * widened to double, accumulated in index order).
    */
  def distance(metric: String, a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) {
      val x = a(i).toDouble; val y = b(i).toDouble
      metric match {
        case "euclidean" => val d = x - y; s += d * d
        case "manhattan" => s += math.abs(x - y)
        case _ => s += x * y; na += x * x; nb += y * y
      }
      i += 1
    }
    metric match {
      case "euclidean" => math.sqrt(s)
      case "manhattan" => s
      case "dotproduct" => -s
      case "cosine" =>
        if (na == 0.0 || nb == 0.0) 1.0
        else 1.0 - math.max(-1.0, math.min(1.0, s / (math.sqrt(na) * math.sqrt(nb))))
    }
  }

  /** Exact top-k over live rows: (id, distance, label) by (distance, id). */
  def nearest(t: String, q: Array[Float], metric: String,
      labels: Option[Set[String]], k: Int): Seq[(String, Double, String)] =
    tables(t).iterator
      .filter { case (_, (_, l)) => labels.forall(_.contains(l)) }
      .map { case (id, (v, l)) => (id, distance(metric, v, q), l) }
      .toSeq.sortBy(r => (r._2, r._1)).take(k)

  def lookup(t: String, id: String): Option[String] = tables(t).get(id).map(_._2)

  def labelCounts(t: String): Map[String, Long] =
    tables(t).values.groupBy(_._2).map { case (l, vs) => l -> vs.size.toLong }

  def vectorOf(t: String, id: String): Option[(Array[Float], String)] = tables(t).get(id)
}

/** Outcome of checking one statement's rows against the mirror. */
final case class Verdict(ok: Boolean, recall: Option[Double], error: String)

object Check {
  private def close(a: Double, b: Double): Boolean =
    math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b))

  /** Check `rows` of `stmt` against `mirror` (state before a write is
    * applied for reads; after it for writes).
    */
  def apply(stmt: Stmt, rows: Array[Row], mirror: Mirror): Verdict = {
    def bad(msg: String) = Verdict(ok = false, None, s"${stmt.cls} on ${stmt.table}: $msg")
    VectorSql.parse(stmt.sql) match {
      case s: VectorSql.Select if s.nearest.isDefined =>
        val q = s.nearest.get.left.toOption.get.toArray
        val metric = s.metric.getOrElse("euclidean")
        val labels = s.where.collect {
          case VectorSql.InC(_, vals, false) => vals.collect { case VectorSql.StrE(x) => x }.toSet
        }
        val exact = mirror.nearest(stmt.table, q, metric, labels, Serve.K)
        val got = rows.toSeq.map(r => (r.getString(0), r.getDouble(1), r.getString(2)))
        if (stmt.cls == "exact") {
          val same = got.size == exact.size && got.zip(exact).forall {
            case ((gi, gd, gl), (ei, ed, el)) => gi == ei && close(gd, ed) && gl == el
          }
          if (same) Verdict(ok = true, Some(1.0), "")
          else bad(s"got ${got.map(_._1).mkString(",")} expected ${exact.map(_._1).mkString(",")}")
        } else {
          // routed: every row live, metadata fresh, distance exact
          val wrong = got.find { case (id, d, l) =>
            mirror.vectorOf(stmt.table, id) match {
              case None => true
              case Some((v, ml)) => ml != l || !close(d, mirror.distance(metric, v, q))
            }
          }
          val sorted = got.map(g => (g._2, g._1)) == got.map(g => (g._2, g._1)).sorted
          val truth = exact.map(_._1).toSet
          val recall =
            if (truth.isEmpty) 1.0 else got.count(g => truth(g._1)).toDouble / truth.size
          if (wrong.isDefined) bad(s"row ${wrong.get._1} is deleted, stale or mis-scored")
          else if (!sorted || got.size > Serve.K) bad("rows not in (distance, id) order")
          else Verdict(ok = true, Some(recall), "")
        }
      case s: VectorSql.Select if s.groupBy.nonEmpty =>
        val got = rows.map(r => r.getString(0) -> r.getLong(1)).toMap
        val want = mirror.labelCounts(stmt.table)
        if (got == want) Verdict(ok = true, None, "") else bad(s"counts $got != $want")
      case s: VectorSql.Select =>
        val id = s.where.collect {
          case VectorSql.Cmp(VectorSql.FieldE("id"), "=", VectorSql.StrE(x)) => x
        }.get
        val got = rows.toSeq.map(r => (r.getString(0), r.getString(1)))
        val want = mirror.lookup(stmt.table, id).map(l => (id, l)).toSeq
        if (got == want) Verdict(ok = true, None, "") else bad(s"lookup $got != $want")
      case _ =>
        val got = rows.headOption.map(_.getLong(0))
        if (got.contains(mirror.size(stmt.table))) Verdict(ok = true, None, "")
        else bad(s"post-image count $got != ${mirror.size(stmt.table)}")
    }
  }
}

/** The catalog the serve workload talks to: the sf0.1 embeddings as
  * three collections — unindexed, IVF-routed and graph-routed — each
  * compacted to an at-rest parquet generation under `root`.
  */
final class ServeCatalog(spark: SparkSession, dataDir: String, root: String) {
  import Serve._
  val cat = new VectorSql.Catalog(spark)
  private val generation = mutable.Map[String, Int]().withDefaultValue(0)
  private val writesTo = mutable.Map[String, Int]().withDefaultValue(0)
  var ivfBuildS = 0.0
  var compactions = 0
  var compactS = 0.0
  var compactMb = 0.0

  /** The corpus as `(id, vector, label)` rows, id-ordered. */
  def corpus(): IndexedSeq[(String, Array[Float], String)] =
    graft.Tables.load(spark, dataDir, "embeddings").orderBy("vec_id").collect()
      .map(r => (r.getLong(0).toString,
        r.getSeq[Float](1).toArray, r.getInt(2).toString)).toIndexedSeq

  private def genPath(t: String): String = s"$root/$t/g${generation(t)}"

  private def compact(t: String): Double = {
    val old = genPath(t)
    generation(t) += 1
    val t0 = System.nanoTime()
    cat.checkpoint(t, genPath(t))
    val secs = (System.nanoTime() - t0) / 1e9
    if (generation(t) > 1) deleteDir(new java.io.File(old))
    secs
  }

  private def deleteDir(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteDir)); f.delete(); ()
  }

  def setup(): Unit = {
    val emb = graft.Tables.load(spark, dataDir, "embeddings")
    val coll = emb.select(col("vec_id").cast("string").as("id"),
      col("embedding").as("vector"),
      map(lit("label"), col("label").cast("string")).as("metadata"))
    Tables.foreach { t => cat.put(t, coll); compact(t) }
    val t0 = System.nanoTime()
    val cents = emb.where(col("vec_id") < 8)
      .select(col("vec_id").cast("int").as("cluster"),
        transform(col("embedding"), _.cast("double")).as("centroid"))
    Ann.writeIndex(Ann.tagCorpus(cat.get(Ivf), "id", "vector", cents,
      metaCols = Seq("metadata")), cents, s"$root/ivf_index")
    val (tagged, centroids) = Ann.loadIndex(spark, s"$root/ivf_index")
    cat.putIndex(Ivf, VectorSql.IvfIndex(tagged, centroids, nprobe = 2))
    ivfBuildS = (System.nanoTime() - t0) / 1e9
    val key = new java.io.File(dataDir).getCanonicalPath + ":serve_graph"
    cat.putIndex(Graph, VectorSql.GraphIndex(GraphIndexCache.ensure(spark, key, 16)(emb)))
  }

  /** Execute one statement and collect its rows; a write that completes
    * a batch of [[Serve.CompactEvery]] writes to its collection also
    * pays that collection's compaction.
    */
  def execute(stmt: Stmt, tracer: Option[Tracer]): Array[Row] = {
    def run(): Array[Row] = {
      val df: DataFrame = tracer match {
        case Some(tr) =>
          tr.span("parse")(VectorSql.parse(stmt.sql))
          tr.span("execute")(VectorSql.execute(cat, stmt.sql))
        case None => VectorSql.execute(cat, stmt.sql)
      }
      tracer.foreach(_.span("plan")(df.queryExecution.executedPlan))
      val rows = tracer.fold(df.collect())(_.span("exec")(df.collect()))
      if (WriteClasses.contains(stmt.cls)) {
        writesTo(stmt.table) += 1
        if (writesTo(stmt.table) % CompactEvery == 0) {
          val secs = tracer.fold(compact(stmt.table))(_.span("compact")(compact(stmt.table)))
          compactions += 1
          compactS += secs
          compactMb += Session.diskBytes(new java.io.File(genPath(stmt.table))) / 1048576.0
        }
      }
      rows
    }
    tracer.fold(run())(_.span(stmt.cls)(run()))
  }
}

/** The `serve` workload: a seeded closed-loop statement stream through
  * `VectorSql` on one catalog, each answer checked against the mirror.
  */
final class ServeWorkload(spark: SparkSession, a: Main.Args) extends Workload {
  import Serve._
  private val root = new java.io.File(a.out, "serve_atrest").getAbsolutePath
  private val serve = new ServeCatalog(spark, a.data, root)
  private var mirror: Mirror = _
  private var stream: ServeStream = _
  private var corpus: IndexedSeq[(String, Array[Float], String)] = _
  private var rootsFrom = 0

  def setup(): Seq[String] = {
    serve.setup()
    corpus = serve.corpus()
    mirror = new Mirror(corpus)
    stream = new ServeStream(a.seed, corpus.map(_._2))
    // warm every read path once, on a stream of its own; reads leave
    // the collections unchanged, so the mirror stays exact
    val warm = new ServeStream(a.seed ^ 0x5eedL, corpus.map(_._2))
    val stmts = Iterator.continually(warm.next()).take(10 * Deck.size).toSeq
    ReadClasses.foreach(c => serve.execute(stmts.find(_.cls == c).get, None))
    Session.cleanup(spark)
    Nil
  }

  private def runOp(stmt: Stmt, tracer: Option[Tracer]): Op = {
    val write = WriteClasses.contains(stmt.cls)
    val t0 = System.nanoTime()
    val rows = try Right(serve.execute(stmt, tracer)) catch { case e: Throwable => Left(e) }
    val secs = (System.nanoTime() - t0) / 1e9
    rows match {
      case Left(e) => Op(stmt.cls, write, secs, ok = false,
        s"${stmt.cls}: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
      case Right(rs) =>
        if (write) mirror.apply(stmt)
        val v = Check(stmt, rs, mirror)
        Op(stmt.cls, write, secs, v.ok, v.error,
          if (stmt.cls == "ivf" || stmt.cls == "graph") v.recall else None)
    }
  }

  def measure(seconds: Double, tracer: Option[Tracer]): Seq[Op] = {
    rootsFrom = tracer.fold(0)(_.allSpans.size)
    val decks = math.max(1, math.ceil(seconds / DeckSeconds).toInt)
    (1 to decks * Deck.size).map(_ => runOp(stream.next(), tracer))
  }

  override def recall(ops: Seq[Op]): Double = Stats.mean(ops.flatMap(_.recall))

  override def atRestRoots: Seq[java.io.File] = Seq(new java.io.File(root))

  def layers(t: Tracer): Seq[Metric] = {
    val spans = t.allSpans.drop(rootsFrom)
    val roots = spans.filter(_.parent == -1)
    val rootIds = roots.map(_.id).toSet
    def phase(n: String, in: Seq[Span] = roots) = {
      val ids = in.map(_.id).toSet
      spans.filter(s => s.name == n && ids(s.parent))
    }
    val norm = math.max(1, roots.size).toDouble
    val exec = phase("execute")
    val routed = roots.filter(r => r.name == "ivf" || r.name == "graph")
    val routeJobs = t.jobsUnder(t.subtree(phase("execute", routed)))
    val buildSelf = exec.map(s => s.nanos / 1e9 - t.jobSeconds(t.jobsUnder(t.subtree(Seq(s))))).sum
    val perClass = Classes.flatMap { c =>
      val rs = roots.filter(_.name == c)
      Seq(Metric(s"serve.$c.p50_ms", if (rs.isEmpty) 0.0 else Stats.median(rs.map(_.nanos / 1e6)), "ms"),
        Metric(s"serve.$c.jobs", t.jobsUnder(t.subtree(rs)).size / math.max(1, rs.size).toDouble, "count"))
    }
    require(rootIds.nonEmpty, "no traced operations")
    Layers.common(t, roots, norm) ++ Seq(
      Metric("build.s", exec.map(_.nanos).sum / 1e9 / norm, "s"),
      Metric("build.self_s", buildSelf / norm, "s"),
      Metric("build.jobs", t.jobsUnder(t.subtree(exec)).size / norm, "count"),
      Metric("plan.s", phase("plan").map(_.nanos).sum / 1e9 / norm, "s"),
      Metric("exec.s", phase("exec").map(_.nanos).sum / 1e9 / norm, "s"),
      Metric("sql.parse_ms", phase("parse").map(_.nanos).sum / 1e6 / norm, "ms"),
      Metric("sql.execute_ms", exec.map(_.nanos).sum / 1e6 / norm, "ms"),
      Metric("sql.route_jobs", routeJobs.size / math.max(1, routed.size).toDouble, "count")) ++
      perClass ++
      Layers.atRest(Map("serve_ivf" -> serve.ivfBuildS)) ++
      Seq(Metric("sources.compact_s", serve.compactS / math.max(1, serve.compactions), "s"),
        Metric("sources.compact_mb", serve.compactMb / math.max(1, serve.compactions), "MB"))
  }

  def traceOverhead(): Double = {
    val s = new ServeStream(a.seed ^ 0x0ddL, corpus.map(_._2))
    val reads = Iterator.continually(s.next()).filter(x => ReadClasses.contains(x.cls)).take(16).toSeq
    Tracer.overhead(new Tracer(spark.sparkContext), reads)((stmt, tr) => runOp(stmt, tr).seconds)
  }
}
