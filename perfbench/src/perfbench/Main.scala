package perfbench

import org.apache.spark.sql.SparkSession

/** One workload: a closed loop with one client. `prepare` generates the
  * inputs and runs the initial load or build into a fresh directory;
  * `cycle` runs one round of operations and records its samples;
  * `finish` runs the end-of-pass checks and per-layer counts. */
abstract class Workload(val spark: SparkSession, val dir: String,
                        val seed: Long, val chk: Checker) {
  val samples = new Samples
  /** Operations attempted per kind in the timed cycles. */
  val ops = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
  var failed = 0
  /** Set in traced runs: also read the counts only a trace reports. */
  var tracing = false
  protected var timed = false
  /** Wall and process-CPU seconds spent in the benchmark's own checks;
    * the run takes them out of `setup_s`, `pass_s` and `cpu_s`. */
  var checkS = 0.0
  var checkCpuS = 0.0

  /** How a run is laid out. A run sets up once, then runs `warmCycles`
    * untimed cycles (both in `setup_s`). `cycleS` is what one cycle took
    * when the benchmark was defined; it fixes how many cycles a run of a
    * given length makes, never fewer than `minCycles`, whatever the speed
    * of the code under test. */
  def warmCycles: Int
  def minCycles: Int
  def cycleS: Double
  def prepare(): Unit
  def cycle(i: Int): Unit
  def finish(): Unit
  /** What `store_mb` measures: the warehouse, indexes or table. */
  def storeDir: String = dir
  /** Sample names behind `write_s_p50` and `read_s_p50`. */
  def writeSample: String
  def readSample: String
  /** Per-layer metrics of this workload: name, unit, value. */
  def layers: Seq[(String, String, Double)]

  def runCycle(i: Int, isTimed: Boolean): Unit = {
    timed = isTimed
    val s = Clock.time(cycle(i))._2
    System.err.println(f"[perfbench] cycle $i ${if (isTimed) "timed" else "warm-up"} $s%.2f s")
  }
  protected def op[T](kind: String)(f: => T): T = {
    if (timed) ops(kind) += 1
    Tracer.as(spark, kind)(f)
  }
  /** Runs `f`, work done only to check outputs, off the run's clocks:
    * no samples, and its wall and CPU time are taken out of the totals. */
  protected def checking[T](f: => T): T = {
    val t = timed; timed = false
    val c0 = Clock.cpu()
    val t0 = Clock.now()
    try f finally {
      checkS += Clock.now() - t0
      checkCpuS += Clock.cpu() - c0
      timed = t
    }
  }
  /** Records a sample only in the timed cycles. */
  protected def timedAs[T](name: String)(f: => T): T = {
    val (r, s) = Clock.time(f)
    if (timed) samples.add(name, s)
    r
  }
}

object Main {
  def parse(args: Array[String]): Opts = {
    val m = args.sliding(2, 2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing $k"))
    Opts(m.getOrElse("--workload", ""), m.getOrElse("--seed", "1").toLong,
      m.getOrElse("--seconds", "10").toInt, m.getOrElse("--trace", "0") == "1",
      m.getOrElse("--selftest", "0") == "1", need("--work"))
  }

  def session(work: String, cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.default.parallelism", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "1024")
      .config("spark.sql.streaming.checkpointLocation", s"$work/checkpoints")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def make(name: String, spark: SparkSession, dir: String, seed: Long,
           chk: Checker): Workload = name match {
    case "vault_history" => new VaultHistory(spark, dir, seed, chk)
    case "index_serving" => new IndexServing(spark, dir, seed, chk)
    case "stream_upsert" => new StreamUpsert(spark, dir, seed, chk)
    case other => sys.error(s"unknown workload '$other' " +
      "(vault_history, index_serving, stream_upsert)")
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val cores = math.max(1, Runtime.getRuntime.availableProcessors - 1)
    if (o.selfTest) selfTest(o, cores) else run(o, cores)
  }

  private def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  def run(o: Opts, cores: Int): Unit = {
    val t0 = Clock.now()
    val spark = session(o.work, cores)
    val sessionS = Clock.now() - t0
    val chk = new Checker(selfTest = false)
    val w = make(o.workload, spark, s"${o.work}/data", o.seed, chk)
    w.tracing = o.trace
    Disk.rmrf(new java.io.File(w.dir))
    val prepS = Clock.time(w.prepare())._2
    System.err.println(f"[perfbench] set-up $prepS%.2f s")
    val warmS = Clock.time((0 until w.warmCycles).foreach(w.runCycle(_, false)))._2
    val setupChecks = w.checkS
    val setupS = sessionS + prepS + warmS - setupChecks

    val cycles = math.max(w.minCycles, (o.seconds / w.cycleS).toInt)
    val tracer = if (o.trace) {
      val t = new Tracer(spark); spark.sparkContext.addSparkListener(t); Some(t)
    } else None
    val (steal0, cpu0, gc0) = (Clock.stealTicks(), Clock.cpu(), Clock.gc())
    val checkCpu0 = w.checkCpuS
    val passWallS = Clock.time((0 until cycles).foreach(i =>
      w.runCycle(w.warmCycles + i, true)))._2
    val passChecks = w.checkS - setupChecks
    val passS = passWallS - passChecks
    val cpuS = Clock.cpu() - cpu0 - (w.checkCpuS - checkCpu0)
    val gcS = Clock.gc() - gc0
    val steal = Clock.stealTicks() - steal0
    w.finish()
    val storeMb = Disk.mb(w.storeDir)

    val e2e = Seq(
      ("setup_s", "s", setupS), ("pass_s", "s", passS),
      ("write_s_p50", "s", w.samples.median(w.writeSample)),
      ("read_s_p50", "s", w.samples.median(w.readSample)),
      ("cpu_s", "s", cpuS), ("store_mb", "MB", storeMb))
    val layers = tracer.map { t =>
      val work = t.perOp(w.ops.toMap).filter { case (n, _) =>
        !n.startsWith("maintain.") || w.ops.contains("maintain") }
      Layers.all(w.layers ++ work.map { case (n, v) => (n, Layers.unitOf(n), v) } :+
        (("jvm.gc_s", "s", gcS)))
    }.getOrElse(Nil)
    val attempted = w.ops.values.sum
    println(f"[perfbench] workload=${o.workload} seed=${o.seed} cores=$cores " +
      f"cycles=$cycles samples(write)=${w.samples.get(w.writeSample).size} " +
      f"samples(read)=${w.samples.get(w.readSample).size} steal_ticks=$steal " +
      f"set-up=$prepS%.2f session=$sessionS%.2f warm=$warmS%.2f " +
      f"checks(set-up)=$setupChecks%.2f checks(pass)=$passChecks%.2f")
    e2e.foreach { case (n, u, v) => println(f"[perfbench] $n%-12s $v%12.4f $u") }
    chk.failures.foreach(f => System.err.println(s"[perfbench] CHECK FAILED: $f"))
    val shown = if (o.trace) layers else e2e
    val json = shown.map { case (n, u, v) =>
      s""""$n": {"value": ${fmt(v)}, "unit": "$u"}""" }.mkString(", ")
    spark.stop()
    println(s"""{"correct": ${chk.failures.isEmpty}, "attempted": $attempted, """ +
      s""""failed": ${w.failed}, "metrics": {$json}}""")
  }

  /** Runs every workload briefly with each check also applied to outputs
    * with one row dropped or altered; exits non-zero unless every check
    * passes on the real output and rejects both mutations. */
  def selfTest(o: Opts, cores: Int): Unit = {
    val spark = session(o.work, cores)
    val chk = new Checker(selfTest = true)
    Seq("vault_history", "index_serving", "stream_upsert").foreach { name =>
      val w = make(name, spark, s"${o.work}/selftest-$name", o.seed, chk)
      Disk.rmrf(new java.io.File(w.dir))
      w.prepare()
      (0 until 3).foreach(i => w.runCycle(i, true))
      w.finish()
    }
    spark.stop()
    chk.provenChecks.foreach { case (n, k) =>
      println(s"[selftest] $n: rejects a dropped and an altered row ($k outputs)") }
    chk.unproven.foreach(n => println(s"[selftest] FAILED $n was never given an output to mutate"))
    chk.failures.foreach(f => println(s"[selftest] FAILED $f"))
    println(s"[selftest] ${chk.provenChecks.size} checks, ${chk.failures.size} failures")
    if (chk.failures.nonEmpty || chk.unproven.nonEmpty) sys.exit(1)
  }
}
