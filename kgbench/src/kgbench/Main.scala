package kgbench

import graft.KgMain
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

/** Benchmark entry point, one JVM per run:
  * {{{
  *   kgbench.Main <build|query> <seed> <seconds> <trace 0|1> <work dir> <threads>
  *   kgbench.Main selftest 0 0 0 <work dir> <threads>
  * }}}
  * Progress goes to stderr; the last stdout line is one JSON object with
  * `correct`, `attempted`, `failed` and `metrics`.
  */
object Main {

  /** Files in each workload's closed-world table (~30 triples a file).
    * On a 4-core host a 4N build takes 14 s at 300 files and 21 s at
    * 5,000: fixed per-call costs dominate it. A query round grows faster
    * (15 s at 300 files, 31 s at 5,000, the BGP most), and its set-up
    * builds the table, so `query` uses a smaller table to keep each run
    * near one minute (kgbench/README.md). */
  val TableFiles = Map("build" -> 5000L, "query" -> 2000L)

  /** Files in the `build` workload's warm-up table: the warm-up runs every
    * layer once so the timed build finds the JVM and Spark warm. */
  val WarmupFiles = 30L

  /** Changed, new and deleted files in the traced maintenance batch. */
  val BatchChanged = 3
  val BatchNew = 1
  val BatchDeleted = 1

  def log(s: String): Unit = System.err.println(s"[kgbench] $s")

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  def secsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Cumulative CPU time of the host (all CPUs) and the part of it stolen
    * by other guests, in /proc/stat ticks. */
  final case class CpuTicks(total: Long, steal: Long)

  def cpuTicks(): CpuTicks = {
    val src = scala.io.Source.fromFile("/proc/stat")
    val v = try src.getLines().next().split("\\s+").drop(1).map(_.toLong) finally src.close()
    CpuTicks(v.take(8).sum, v.lift(7).getOrElse(0L))
  }

  /** Share of CPU time stolen by other guests since `from`. */
  def stealSince(from: CpuTicks): Double = {
    val now = cpuTicks()
    val dt = now.total - from.total
    if (dt <= 0) 0.0 else (now.steal - from.steal).toDouble / dt
  }

  def rmrf(path: String): Unit = {
    val p = Paths.get(path)
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))
  }

  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val Array(workload, seed, seconds, trace, work, threads) = args
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    if (workload == "selftest") SelfTest.run(work, threads.toInt)
    else {
      require(TableFiles.contains(workload), s"unknown workload $workload")
      println(new Run(workload, seed.toLong, seconds.toDouble, trace == "1", work,
        threads.toInt, jvmStart).go())
    }
    log(f"done at JVM uptime ${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%.1f s")
    // nothing is left to flush or commit; skipping the shutdown hooks
    // saves seconds per run (run.py removes the run's scratch directory)
    System.out.flush()
    Runtime.getRuntime.halt(0)
  }
}

/** Operation accounting: an operation that throws, or a check that finds
  * a problem, counts as failed. */
final class Ledger {
  var attempted = 0L
  var failed = 0L
  def op[A](what: String)(f: => A): Option[A] = {
    attempted += 1
    try Some(f)
    catch {
      case t: Throwable =>
        failed += 1
        Main.log(s"FAILED: $what threw $t")
        None
    }
  }
  def check(what: String)(problems: => Seq[String]): Unit = {
    attempted += 1
    val ps = try problems catch { case t: Throwable => Seq(s"threw $t") }
    if (ps.nonEmpty) { failed += 1; Main.log(s"FAILED: $what: ${ps.mkString("; ")}") }
  }
}

/** One benchmark run: set-up, the timed loop (or the traced calls), then
  * the checks. Timed calls run at 4N threads; N = 1. */
final class Run(workload: String, seed: Long, seconds: Double, traced: Boolean,
                work: String, threads4: Int, jvmStart: Double) {
  import Main._

  private val ledger = new Ledger
  private val nFiles = TableFiles(workload)
  private val raw = s"$work/raw"
  private val base = s"$work/base"
  private var spark: SparkSession = _
  private var threadsNow = 0
  private lazy val model = KgMain.model

  private def session(threads: Int): SparkSession = {
    if (spark != null && threadsNow == threads) return spark
    if (spark != null) spark.stop()
    spark = KgMain.session(threads.toString)
    spark.sparkContext.setLogLevel("ERROR")
    threadsNow = threads
    spark
  }

  private val digests = mutable.ArrayBuffer.empty[String]

  /** Builds the workload's table from `raw` into `dir`. */
  private def buildAt(dir: String, threads: Int): Option[Ops.Built] = {
    val s = session(threads)
    rmrf(dir)
    ledger.op(s"build@$threads")(Ops.build(s, raw, dir, model)).map { b =>
      digests += b.digest
      log(f"build@$threads ${b.rows} triples ${b.secs}%.2f s")
      b
    }
  }

  /** JVM start, model training, session start, raw rows, and the untimed
    * warm-up build: for `build` a small table, for `query` the base table
    * the queries read. Returns its wall seconds. */
  private def setup(): Double = {
    val ticks = cpuTicks()
    val t0 = System.nanoTime()
    // model training is single-threaded and independent of the session:
    // it overlaps session start and raw-row generation
    val training = Future { model; secsSince(t0) }(ExecutionContext.global)
    session(threads4)
    val sessionS = secsSince(t0)
    val t1 = System.nanoTime()
    Ops.writeRaw(spark, nFiles, seed, raw, threads4 * 2)
    log(f"raw rows ${secsSince(t1)}%.2f s")
    if (workload == "build") {
      Ops.writeRaw(spark, WarmupFiles, seed, s"$work/warm-raw", threads4 * 2)
      rmrf(s"$work/warm")
      Ops.build(spark, s"$work/warm-raw", s"$work/warm", model)
    } else buildAt(base, threads4).getOrElse(sys.error("base table build failed"))
    val modelS = Await.result(training, Duration.Inf)
    val s = jvmStart + secsSince(t0)
    log(f"setup $s%.2f s, ${stealSince(ticks) * 100}%.0f%% steal (jvm $jvmStart%.2f, model $modelS%.2f, session $sessionS%.2f)")
    s
  }

  def go(): String = {
    val setupS = setup()
    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    if (traced) tracedRun(metrics) else untracedRun(metrics, setupS)
    val t0 = System.nanoTime()
    checks()
    log(f"checks ${secsSince(t0)}%.2f s")
    if (traced) metrics("jvm.peak_rss_mb") = (peakRssMb(), "MB")
    else metrics("ok_ratio") = (1.0 - ledger.failed.toDouble / ledger.attempted, "ratio")
    val ms = metrics.map { case (k, (v, u)) => s""""$k":{"value":$v,"unit":"$u"}""" }
    s"""{"correct":${ledger.failed == 0},"attempted":${ledger.attempted},""" +
      s""""failed":${ledger.failed},"metrics":{${ms.mkString(",")}}}"""
  }

  // ---------------- untraced: end-to-end metrics ----------------

  private val bgpCounts = mutable.ArrayBuffer.empty[Long]
  private val ntLines = mutable.ArrayBuffer.empty[Long]
  private val audits = mutable.ArrayBuffer.empty[Map[String, Long]]
  private val saliences = mutable.ArrayBuffer.empty[Ops.Salience]

  /** Independent answers for the query checks, taken before any query
    * runs (a traced run changes the table with a batch afterwards): the
    * BGP's bindings as a semi-join count, and the distinct triples the
    * N-Triples export must emit one line each for. */
  private var queryRef: Option[(Long, Long)] = None

  private def takeQueryRef(s: SparkSession): Unit = if (queryRef.isEmpty) {
    val t = Ops.readTable(s, base)
    val semi = t.where(col("pred") === "hasEntity")
      .select(col("subj").as("m"), col("obj").as("e")).distinct()
      .join(t.where(col("pred") === "hasType" && col("obj") === "persName")
        .select(col("subj").as("e")), Seq("e"), "left_semi").count()
    queryRef = Some((semi, t.select("subj", "pred", "obj").distinct().count()))
  }

  private def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, secsSince(t0))
  }

  /** One consumer round over the committed base table: `kgAudit`, the
    * 2-pattern BGP, the N-Triples export and entity salience, each from
    * its own `readCommitted`. Returns the sum of the four operations'
    * wall times; salience's own checks run after its clock stops. */
  private def queryRound(): Option[Double] = {
    val s = session(threads4)
    takeQueryRef(s)
    ledger.op("query round") {
      val (a, auditS) = timed(Ops.audit(s, Ops.readTable(s, base)))
      val (b, bgpS) = timed(Ops.bgp(Ops.readTable(s, base)))
      val (n, ntS) = timed(Ops.ntriples(Ops.readTable(s, base)))
      val (t, readS) = timed(Ops.readTable(s, base))
      val (sal, salS) = Ops.salience(t)
      audits += a; bgpCounts += b; ntLines += n; saliences += sal
      log(f"query audit $auditS%.2f bgp $bgpS%.2f ntriples $ntS%.2f salience ${readS + salS}%.2f s")
      auditS + bgpS + ntS + readS + salS
    }
  }

  /** Repeats the workload's operation at 4N until `seconds` have passed
    * (at least once): a build from raw rows to committed manifests, or a
    * query round over the base table. Reports the median wall time. */
  private def untracedRun(metrics: mutable.LinkedHashMap[String, (Double, String)],
                          setupS: Double): Unit = {
    val secs = mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    while (secs.isEmpty || secsSince(t0) < seconds) {
      val ticks = cpuTicks()
      val wall = (if (workload == "build") buildAt(base, threads4).map(_.secs) else queryRound())
        .getOrElse(sys.error(s"$workload operation failed"))
      log(f"$workload call $wall%.2f s, ${stealSince(ticks) * 100}%.0f%% steal")
      secs += wall
    }
    metrics("setup_s") = (setupS, "s")
    metrics("op_s") = (median(secs.toSeq), "s")
  }

  // ---------------- checks ----------------

  private def checks(): Unit = {
    val s = session(threads4)
    ledger.check("every build of the table has the same digest")(
      if (digests.distinct.size == 1) Nil else Seq(s"digests ${digests.distinct}"))
    ledger.check("same digest as earlier runs with this seed")(
      stableDigest(s"$workload-$nFiles-$seed", digests.head))
    // the table itself is the build's output, checked by untraced `build`
    // runs; a traced `query` run checks it after its batch
    if (workload == "build" && !traced) {
      ledger.check("snapshot invariant")(Checks.snapshot(s, base))
      ledger.check("table intact")(
        Checks.commits(s, base) ++ Checks.audit(s, Ops.readTable(s, base)))
    }
    queryRef.foreach { case (semi, spo) =>
      ledger.check("BGP bindings = independent semi-join count")(
        bgpCounts.filter(_ != semi).map(n => s"$n bindings, semi-join gives $semi").toSeq)
      ledger.check("N-Triples lines = distinct triples")(
        ntLines.filter(_ != spo).map(n => s"$n lines for $spo distinct triples").toSeq)
    }
    ledger.check("kgAudit of each query round finds no defect")(audits.toSeq.flatMap(a =>
      Ops.AuditZero.filter(a(_) != 0L).map(m => s"$m = ${a(m)}")))
    ledger.check("salience: rank mass = node count, top-50 complete")(saliences.toSeq.flatMap { x =>
      (if (math.abs(x.rankSum - x.nodes) <= 1e-6 * x.nodes) Nil
       else Seq(s"rank mass ${x.rankSum} for ${x.nodes} nodes")) ++
        (if (x.top.size == math.min(50L, x.nodes)) Nil else Seq(s"top list has ${x.top.size}"))
    })
    // the golden's input is fixed (Synth seed 42): once per traced
    // `build` run is enough
    if (traced && workload == "build")
      ledger.check("golden triples_25")(Checks.golden(s, model, Checks.goldenLines()))
  }

  /** The same seed must give the same table in every run of this build:
    * the first run records the digest, later runs compare. Digests are
    * kept per source stamp (build.sh's hash of the sources), so a changed
    * program starts afresh; the golden and parity checks cover
    * correctness across versions. */
  private def stableDigest(key: String, digest: String): Seq[String] = {
    val out = Paths.get(work).getParent.getParent
    val stamp = new String(Files.readAllBytes(out.resolve("classes.stamp")), "UTF-8").trim
    val p = out.resolve("digests").resolve(stamp).resolve(key)
    Files.createDirectories(p.getParent)
    if (!Files.exists(p)) { Files.write(p, digest.getBytes("UTF-8")); Nil }
    else {
      val want = new String(Files.readAllBytes(p), "UTF-8")
      if (want == digest) Nil else Seq(s"digest $digest, an earlier run had $want")
    }
  }

  // ---------------- traced: per-layer metrics ----------------

  /** Runs `f` with a fresh [[Probe]] registered and waits until the
    * listener bus has delivered every event before returning. */
  private def probed[A](s: SparkSession)(f: Probe => A): (A, Probe) = {
    val p = new Probe
    s.sparkContext.addSparkListener(p)
    try {
      val a = f(p)
      org.apache.spark.BenchBus.drain(s.sparkContext)
      (a, p)
    } finally s.sparkContext.removeSparkListener(p)
  }

  private val BuildLayers = Seq("snapshot", "ner", "link", "canon", "triples", "write")
  private val BatchLayers = Seq("merge", "state")
  private val QueryLayers = Seq("read", "audit", "bgp", "ntriples", "pagerank")
  private val LayerStats = Seq("wall_s", "task_s", "cpu_s", "gc_s", "shuffle_bytes",
    "jobs", "parallel_fraction")
  private val Counters = Seq("ner.sentences", "ner.mentions", "link.candidates_per_mention",
    "link.nil_ratio", "canon.edges", "canon.distributed", "canon.max_component",
    "canon.entities", "write.rows", "write.files", "write.max_over_median_task",
    "merge.buckets_rewritten", "merge.rows_rewritten_per_upsert", "state.edges",
    "bgp.shuffle_records", "bgp.bindings", "bgp.useful_ratio", "pagerank.nodes",
    "pagerank.edges") ++ Kernel.Names ++ Seq("trace.layer_sum_ratio_n",
    "trace.layer_sum_ratio_4n", "trace.overhead_ratio", "trace.scaling_efficiency",
    "build.triples_per_s", "host.steal_ratio")

  /** Every per-layer metric name, in output order. */
  private val PerLayer: Seq[String] =
    (BuildLayers ++ BatchLayers ++ QueryLayers).flatMap(l => LayerStats.map(m => s"$l.$m")) ++
      Counters

  /** Layer metrics of the direct children of root span `root`. */
  private def layerMetrics(tr: Tracer, root: Int, p: Probe, threads: Int,
                           only: Seq[String]): Seq[(String, Double)] =
    tr.spans.filter(sp => sp.parent == root && only.contains(sp.name)).toSeq.flatMap { sp =>
      val st = p.get(sp.name)
      val l = sp.name
      Seq(s"$l.wall_s" -> sp.secs, s"$l.task_s" -> st.taskNs / 1e9,
        s"$l.cpu_s" -> st.cpuNs / 1e9, s"$l.gc_s" -> st.gcNs / 1e9,
        s"$l.shuffle_bytes" -> st.shuffleBytes.toDouble, s"$l.jobs" -> st.jobs.toDouble,
        s"$l.parallel_fraction" -> st.taskNs / 1e9 / (sp.secs * threads))
    }

  /** Σ child-span wall ÷ root-span wall. */
  private def coverage(tr: Tracer, root: Int): Double =
    tr.spans.filter(_.parent == root).map(_.secs).sum / tr.spans(root).secs

  private def tracedRun(metrics: mutable.LinkedHashMap[String, (Double, String)]): Unit = {
    val tr = new Tracer(s"$workload-$seed-${System.currentTimeMillis()}")
    val out = mutable.LinkedHashMap.empty[String, Double]
    def put(kv: Seq[(String, Double)]): Unit = kv.foreach { case (k, v) => out(k) = v }
    def lastRoot = tr.spans.lastIndexWhere(_.parent == -1)

    val ticks = cpuTicks()
    if (workload == "build") {
      // the build at N and at 4N, traced, then once untraced at 4N
      val (bN, _) = probed(session(1)) { p =>
        rmrf(base)
        Ops.buildTraced(spark, raw, base, model, 1, tr, p)._1 }
      val rN = coverage(tr, lastRoot)
      val ((b4, counts), p4) = probed(session(threads4)) { p =>
        rmrf(base)
        Ops.buildTraced(spark, raw, base, model, threads4, tr, p) }
      put(layerMetrics(tr, lastRoot, p4, threads4, BuildLayers)); put(counts)
      val r4 = coverage(tr, lastRoot)
      digests ++= Seq(bN.digest, b4.digest)
      val u = buildAt(base, threads4).getOrElse(sys.error("untraced build failed"))
      put(Seq("trace.layer_sum_ratio_n" -> rN, "trace.layer_sum_ratio_4n" -> r4,
        "trace.overhead_ratio" -> b4.secs / u.secs,
        "build.triples_per_s" -> u.rows / u.secs,
        "trace.scaling_efficiency" -> (b4.rows / b4.secs) / (threads4 * (bN.rows / bN.secs))))
    } else {
      // a traced query round at 4N, then a traced batch
      takeQueryRef(session(threads4))
      val (counts, p4) = probed(session(threads4)) { p =>
        Ops.queryTraced(spark, base, threads4, tr, p) }
      put(layerMetrics(tr, lastRoot, p4, threads4, QueryLayers)); put(counts)
      bgpCounts += counts.toMap.apply("bgp.bindings").toLong
      put(Seq("trace.layer_sum_ratio_4n" -> coverage(tr, lastRoot)))
      put(tracedBatch(tr))
    }
    put(Kernel.phases(session(threads4), raw, model))
    put(Seq("host.steal_ratio" -> stealSince(ticks)))

    val file = Paths.get(work).getParent.getParent.resolve("traces").resolve(s"${tr.run}.json")
    Files.createDirectories(file.getParent)
    Files.write(file, tr.toJson.getBytes("UTF-8"))
    log(s"spans written to $file")
    tr.spans.filter(_.parent == -1).foreach { r =>
      log(f"${r.name}%-10s ${r.secs}%7.2f s  " + tr.spans.filter(_.parent == r.id)
        .map(c => f"${c.name} ${c.secs}%.2f").mkString("  "))
    }
    // a layer this workload does not run did no work: it reports zero
    PerLayer.foreach(k => metrics(k) = (out.getOrElse(k, 0.0), unitOf(k)))
  }

  /** `KgDeltaMain`'s path on the query table: onboard the canonicalization
    * state, run one traced batch of changed, new and deleted files, and
    * check the maintained table against a full run over its files.
    * Returns the merge and state layer metrics. */
  private def tracedBatch(tr: Tracer): Seq[(String, Double)] = {
    val s = session(threads4)
    Ops.bootstrapState(s, base, model)
    val b = Gen.batch(seed, nFiles, BatchChanged, BatchNew, BatchDeleted)
    val (counts, p) = probed(s) { _ =>
      Ops.batchTraced(s, base, model, b.upserts.map { case (i, v) => Gen.closed(i, seed, v) },
        b.deletes.map(i => Gen.closed(i, seed)), threads4, tr) }
    val live = mutable.LinkedHashMap((0L until nFiles).map(i => i -> 0): _*)
    b.upserts.foreach { case (i, v) => live(i) = v }
    b.deletes.foreach(live.remove)
    ledger.check("maintained table intact")(
      Checks.commits(s, base) ++ Checks.audit(s, Ops.readTable(s, base)))
    ledger.check("maintained table = full run over its files")(Checks.parity(s, base,
      live.toSeq.map { case (i, v) => Gen.closed(i, seed, v) }, model, threads4 * 2))
    layerMetrics(tr, tr.spans.lastIndexWhere(_.parent == -1), p, threads4, BatchLayers) ++
      counts
  }

  private def unitOf(k: String): String = k.substring(k.indexOf('.') + 1) match {
    case n if n.endsWith("per_s") => "1/s"
    case n if n.endsWith("_s") => "s"
    case n if n.endsWith("_bytes") => "bytes"
    case n if n.endsWith("_ns_per_token") => "ns/token"
    case n if n.contains("ratio") || n.endsWith("fraction") || n.endsWith("efficiency") ||
      n.endsWith("per_mention") || n.endsWith("per_upsert") ||
      n.endsWith("over_median_task") => "ratio"
    case "distributed" => "bool"
    case _ => "count"
  }
}
