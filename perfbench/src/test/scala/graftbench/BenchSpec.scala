package graftbench

import java.nio.file.Files

import scala.sys.process._

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The benchmark's own checks: seeded inputs are reproducible, the serve
  * mirror agrees with `VectorSql`, and the listener files a query's
  * schema-inference jobs under the span that ran it.
  */
class BenchSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val root = Files.createTempDirectory("graftbench_spec").toFile
  private lazy val data = {
    val dir = new java.io.File(root, "sf0.001")
    val gen = new java.io.File(sys.env.getOrElse("GRAFTBENCH_DIR", "."), "datagen.py")
    assert(Seq("python3", gen.getPath, dir.getPath, "0.001").! == 0, "datagen failed")
    dir.getPath
  }
  private lazy val spark: SparkSession = Session.build(cores = 2)

  override def afterAll(): Unit = {
    spark.stop()
    def rm(f: java.io.File): Unit = { Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); () }
    rm(root)
  }

  private val corpus = IndexedSeq.tabulate(50)(i => Array.tabulate(8)(j => ((i * 31 + j * 7) % 13).toFloat))

  test("the same seed generates the same serve stream and light order") {
    def stream(seed: Long) = { val s = new ServeStream(seed, corpus); Seq.fill(200)(s.next()) }
    assert(stream(7) == stream(7))
    assert(stream(7) != stream(8))
    val deck = stream(7).take(Serve.Deck.size).map(_.cls)
    assert(deck.sorted == Serve.Deck.sorted, "every deck has the fixed mix")
    val pass = QuerySets.lightPass
    assert(QuerySets.passes(pass, 7).take(3 * pass.size).toSeq ==
      QuerySets.passes(pass, 7).take(3 * pass.size).toSeq)
    assert(QuerySets.passes(pass, 7).take(pass.size).toSeq !=
      QuerySets.passes(pass, 8).take(pass.size).toSeq)
    assert(QuerySets.passes(pass, 7).take(pass.size).toSeq.sorted == pass.sorted,
      "a pass runs the whole list")
  }

  test("light names are registry queries with oracles") {
    val light = QuerySets.lightReads ++ QuerySets.lightWrites
    assert(light.distinct.size == 199)
    val known = graft.SparkEntry.queries.keySet
    val oracles = graft.SparkEntry.oracleSql.keySet
    (light ++ QuerySets.pipeline).foreach { n =>
      assert(known(n) && oracles(n), n)
    }
  }

  test("the serve mirror agrees with VectorSql at sf0.001") {
    val cat = new ServeCatalog(spark, data, new java.io.File(root, "serve").getPath)
    cat.setup()
    val rows = cat.corpus()
    val mirror = new Mirror(rows)
    val stream = new ServeStream(3, rows.map(_._2))
    val verdicts = (1 to 2 * Serve.Deck.size).map { _ =>
      val stmt = stream.next()
      val out = cat.execute(stmt, None)
      if (Serve.WriteClasses.contains(stmt.cls)) mirror.apply(stmt)
      stmt -> Check(stmt, out, mirror)
    }
    verdicts.foreach { case (stmt, v) => assert(v.ok, s"${stmt.sql.take(120)}: ${v.error}") }
    assert(cat.compactions > 0, "the stream's writes trigger compactions")
    assert(verdicts.exists(_._2.recall.isDefined), "routed reads were checked")
  }

  test("the listener files schema-inference jobs under the span that loaded the tables") {
    val t = new Tracer(spark.sparkContext)
    t.attach()
    t.span("two_tables") {
      val n = graft.Tables.load(spark, data, "nation")
      val r = graft.Tables.load(spark, data, "region")
      n.join(r, n("n_regionkey") === r("r_regionkey")).collect()
    }
    t.detach()
    val jobs = t.jobsUnder(t.subtree(t.allSpans.filter(_.name == "two_tables")))
    assert(jobs.count(_.callSite.contains("Tables.scala")) == 2)
    assert(jobs.exists(!_.callSite.contains("Tables.scala")), "the collect job is filed too")
  }
}
