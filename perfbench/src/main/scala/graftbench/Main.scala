package graftbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** A metric as reported: name, value, unit. */
final case class Metric(name: String, value: Double, unit: String)

/** One timed operation of any workload. */
final case class Op(name: String, write: Boolean, seconds: Double,
    ok: Boolean, error: String, recall: Option[Double] = None)

/** A workload: set-up, a closed-loop timed region, and its metrics. */
trait Workload {
  /** Build everything the timed region reads; returns set-up errors. */
  def setup(): Seq[String]
  /** Run operations one at a time: a fixed number of whole passes
    * (registry) or decks (serve) sized so that they take about `seconds`
    * of operation time at sf0.1 on 4 cores. The amount of work depends
    * on `seconds` only, never on how fast the program is, so two
    * versions of the program are measured on the same operations.
    */
  def measure(seconds: Double, tracer: Option[Tracer]): Seq[Op]
  /** Per-layer metrics of a traced measurement. */
  def layers(tracer: Tracer): Seq[Metric]
  /** Traced over untraced seconds minus one, over already-measured
    * operations run both ways ([[Tracer.overhead]]).
    */
  def traceOverhead(): Double
  def wallSeconds(ops: Seq[Op]): Double = ops.map(_.seconds).sum
  def recall(ops: Seq[Op]): Double = 1.0
  /** Checked registry queries: name -> (timed operations, result hash). */
  def checked: Map[String, (Int, String)] = Map.empty
  def atRestRoots: Seq[java.io.File] = Nil
  def finish(): Unit = ()
}

/** Benchmark JVM entry point.
  *
  * Usage: graftbench.Main --workload light|pipeline|serve --seed N
  *   --seconds S --trace 0|1 --data DIR --warm DIR --out DIR
  *   [--verified FILE --data-stamp HEX]
  *
  * Writes `DIR/result.json` (metrics, attempted/failed counts, the
  * wall-clock end of set-up) and, for the registry workloads, the
  * checked results plus their oracle SQL under `DIR/check`. With
  * `--trace 1` it also writes the spans and jobs to `DIR/trace.jsonl`.
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, data: String, warm: String, out: String,
      verified: Set[String], dataStamp: String)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    // remembered oracle matches: the keys of a JSON object
    val verified = m.get("verified").map(new java.io.File(_)).filter(_.exists)
      .map(f => "[0-9a-f]{64}".r.findAllIn(java.nio.file.Files.readString(f.toPath)).toSet)
      .getOrElse(Set.empty[String])
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("data"), need("warm"), need("out"),
      verified, m.getOrElse("data-stamp", ""))
  }

  def workload(a: Args, spark: SparkSession): Workload = a.workload match {
    case "light" => new RegistryWorkload(spark, a, QuerySets.lightPass,
      QuerySets.lightWrites.toSet, passSeconds = 30,
      warmNames = QuerySets.lightSample.grouped(5).map(_.head).toSeq,
      atRest = QuerySets.lightAtRest)
    case "pipeline" => new RegistryWorkload(spark, a, QuerySets.pipeline,
      QuerySets.pipelineWrites, passSeconds = 75,
      warmNames = Nil, atRest = QuerySets.pipelineAtRest)
    case "serve" => new ServeWorkload(spark, a)
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }

  def main(argv: Array[String]): Unit = {
    val startMs = System.currentTimeMillis()
    val a = parse(argv)
    val out = new java.io.File(a.out)
    out.mkdirs()
    val spark = Session.build()
    val w = workload(a, spark)
    val setupErrors = w.setup()
    val setupEndMs = System.currentTimeMillis()
    println(s"setup done after ${(setupEndMs - startMs) / 1e3} s in the JVM")

    val tracer = if (a.trace) Some(new Tracer(spark.sparkContext)) else None
    tracer.foreach(_.attach())
    val ops = w.measure(a.seconds, tracer)
    ops.foreach(o => println(f"op ${o.name}%-32s ${o.seconds * 1e3}%9.1f ms ${if (o.ok) "ok" else o.error}"))
    tracer.foreach(_.detach())

    val good = ops.filter(_.ok)
    val reads = good.filterNot(_.write)
    val writes = good.filter(_.write)
    def ms(xs: Seq[Op], q: Double) = Stats.pct(xs.map(_.seconds * 1e3), q)
    val metrics = mutable.ArrayBuffer[Metric]()
    if (!a.trace) {
      val latencyOps = if (a.workload == "serve") reads else good
      metrics ++= Seq(
        Metric("p50_ms", ms(latencyOps, 0.5), "ms"),
        Metric("p95_ms", ms(latencyOps, 0.95), "ms"),
        Metric("ops_per_s", good.size / good.map(_.seconds).sum, "1/s"),
        Metric("wall_s", w.wallSeconds(good), "s"),
        Metric("write_p50_ms", ms(writes, 0.5), "ms"),
        Metric("write_p90_ms", ms(writes, 0.9), "ms"),
        Metric("recall_at_10", w.recall(good), "fraction"))
    } else {
      metrics ++= w.layers(tracer.get)
      metrics ++= Probes.kernels(spark, a.data).map(Metric.tupled)
      metrics ++= Probes.streaming(spark, a.data).map(Metric.tupled)
      metrics += Metric("trace.overhead_frac", w.traceOverhead(), "fraction")
      tracer.get.dump(new java.io.File(out, "trace.jsonl").toPath)
    }
    // at-rest footprint: every per-run artifact directory under the
    // JVM temp dir plus the workload's own generations
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    val roots = Option(tmp.listFiles()).toSeq.flatten
      .filter(_.getName.startsWith("graft")) ++ w.atRestRoots
    metrics += Metric("atrest_mb", roots.distinct.map(Session.diskBytes).sum / 1048576.0, "MB")
    w.finish()
    metrics += Metric("live_heap_mb", Session.liveHeapMb(), "MB")

    val failed = ops.count(!_.ok)
    val errors = (setupErrors ++ ops.filterNot(_.ok).map(_.error)).distinct.take(20)
    val json = Json.obj(Seq(
      "attempted" -> ops.size.toString,
      "failed" -> failed.toString,
      "setup_failed" -> setupErrors.size.toString,
      "setup_end_ms" -> setupEndMs.toString,
      "metrics" -> Json.obj(metrics.toSeq.map(m =>
        m.name -> Json.obj(Seq("value" -> Json.num(m.value), "unit" -> Json.str(m.unit))))),
      "checked" -> Json.obj(w.checked.toSeq.sorted.map { case (k, (n, h)) =>
        k -> Json.obj(Seq("ops" -> n.toString, "hash" -> Json.str(h))) }),
      "errors" -> errors.map(Json.str).mkString("[", ",", "]")))
    java.nio.file.Files.writeString(new java.io.File(out, "result.json").toPath, json)
    spark.stop()
  }
}

/** The `light` and `pipeline` workloads: whole passes over a frozen
  * list of registry queries, each pass in a seeded order.
  */
final class RegistryWorkload(spark: SparkSession, a: Main.Args,
    names: Seq[String], writes: Set[String], passSeconds: Double,
    warmNames: Seq[String], atRest: Seq[String]) extends Workload {
  private val schedule = QuerySets.passes(names, a.seed)
  private val runner = new RegistryRunner(spark, a.data, s"${a.out}/check", writes,
    a.verified, a.dataStamp)
  private val passWalls = mutable.ArrayBuffer[Double]()
  private val opCount = mutable.Map[String, Int]().withDefaultValue(0)
  private val latency = mutable.Map[String, Double]()
  private var rootsFrom = 0

  def setup(): Seq[String] =
    runner.warm(a.warm, warmNames) ++ runner.warm(a.data, atRest)

  private def runOp(name: String, tracer: Option[Tracer]): Op = {
    val op = runner.run(name, tracer)
    opCount(name) += 1
    if (op.ok) latency(name) = op.seconds
    op
  }

  def measure(seconds: Double, tracer: Option[Tracer]): Seq[Op] = {
    rootsFrom = tracer.fold(0)(_.allSpans.size)
    val ops = mutable.ArrayBuffer[Op]()
    (1 to math.max(1, math.ceil(seconds / passSeconds).toInt)).foreach { _ =>
      val pass = names.map(_ => runOp(schedule.next(), tracer))
      ops ++= pass
      passWalls += pass.map(_.seconds).sum
    }
    ops.toSeq
  }

  override def wallSeconds(ops: Seq[Op]): Double = Stats.median(passWalls.toSeq)

  override def checked: Map[String, (Int, String)] =
    runner.checked.map { case (n, h) => n -> (opCount(n), h) }

  def layers(t: Tracer): Seq[Metric] = {
    val norm = math.max(1, passWalls.size).toDouble
    val spans = t.allSpans.drop(rootsFrom)
    val roots = spans.filter(_.parent == -1)
    val rootIds = roots.map(_.id).toSet
    def phase(n: String) = spans.filter(s => s.name == n && rootIds(s.parent))
    val build = phase("build")
    val buildJobs = t.jobsUnder(t.subtree(build))
    val buildSelf = build.map(s => s.nanos / 1e9 - t.jobSeconds(t.jobsUnder(t.subtree(Seq(s))))).sum
    Layers.common(t, roots, norm) ++ Seq(
      Metric("build.s", build.map(_.nanos).sum / 1e9 / norm, "s"),
      Metric("build.self_s", buildSelf / norm, "s"),
      Metric("build.jobs", buildJobs.size / norm, "count"),
      Metric("plan.s", phase("plan").map(_.nanos).sum / 1e9 / norm, "s"),
      Metric("exec.s", phase("exec").map(_.nanos).sum / 1e9 / norm, "s")) ++
      Layers.zeroServe ++ Layers.atRest(Map.empty) ++ Layers.zeroCompaction
  }

  def traceOverhead(): Double = {
    // the cheapest queries already measured, each run traced and
    // untraced, alternating which goes first
    val pick = latency.toSeq.sortBy(kv => (kv._2, kv._1)).map(_._1)
      .take(math.min(6, names.size / 5))
    Tracer.overhead(new Tracer(spark.sparkContext), pick ++ pick)(
      (n, tr) => runner.run(n, tr).seconds)
  }

  override def finish(): Unit = runner.writeOracles()
}

/** Metric groups shared by the workloads' per-layer reports. */
object Layers {
  /** Spark and `Tables` counters of every job under `roots`, per `norm`. */
  def common(t: Tracer, roots: Seq[Span], norm: Double): Seq[Metric] = {
    val jobs = t.jobsUnder(t.subtree(roots))
    val tt = t.taskTotals(jobs)
    val schema = jobs.filter(_.callSite.contains("Tables.scala"))
    Seq(
      Metric("tables.schema_jobs", schema.size / norm, "count"),
      Metric("tables.schema_s", t.jobSeconds(schema) / norm, "s"),
      Metric("spark.jobs", jobs.size / norm, "count"),
      Metric("spark.stages", tt.stages / norm, "count"),
      Metric("spark.tasks", tt.tasks / norm, "count"),
      Metric("spark.task_run_s", tt.runS / norm, "s"),
      Metric("spark.task_cpu_s", tt.cpuS / norm, "s"),
      Metric("spark.gc_s", tt.gcS / norm, "s"),
      Metric("spark.shuffle_read_mb", tt.shuffleReadMb / norm, "MB"),
      Metric("spark.shuffle_write_mb", tt.shuffleWriteMb / norm, "MB"),
      Metric("spark.spill_mb", tt.spillMb / norm, "MB"),
      Metric("spark.input_mb", tt.inputMb / norm, "MB"),
      Metric("spark.failed_tasks", tt.failed / norm, "count"))
  }

  /** Every serve-only metric at zero, for the registry workloads. */
  def zeroServe: Seq[Metric] =
    Seq(Metric("sql.parse_ms", 0, "ms"), Metric("sql.execute_ms", 0, "ms"),
      Metric("sql.route_jobs", 0, "count")) ++
      Serve.Classes.flatMap(c => Seq(Metric(s"serve.$c.p50_ms", 0, "ms"),
        Metric(s"serve.$c.jobs", 0, "count")))

  def zeroCompaction: Seq[Metric] =
    Seq(Metric("sources.compact_s", 0, "s"), Metric("sources.compact_mb", 0, "MB"))

  /** Per-run at-rest artifacts the benchmark reports, by variant. */
  val atRestVariants: Seq[String] = Seq("full#16", "base16cut#16", "walkpq_m16",
    "exact8_full", "exact8_append", "exact8_delete", "dedup_truth_k3",
    "minhash_pairs", "winnow_pairs", "sqlivf", "serve_graph#16", "serve_ivf")

  /** `atrest.<variant>.build_s` from the engine's artifact timings
    * (`ArtifactTimes`, keyed `<dir>:<variant>`) plus `extra`.
    */
  def atRest(extra: Map[String, Double]): Seq[Metric] = {
    val snap = graft.operators.ArtifactTimes.snapshot.map { case (k, v) =>
      k.substring(k.lastIndexOf(':') + 1) -> v } ++ extra
    atRestVariants.map(v => Metric(s"atrest.${v.replace('#', '_')}.build_s",
      snap.getOrElse(v, 0.0), "s"))
  }
}
