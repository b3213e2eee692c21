package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Command-line options of one benchmark run. */
final case class Opts(workload: String, seed: Long, seconds: Int,
                      trace: Boolean, selfTest: Boolean, work: String)

/** Median over the samples of one run. */
object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
}

/** Wall-clock and process-CPU clocks read from outside the library. */
object Clock {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def now(): Double = System.nanoTime() / 1e9
  def cpu(): Double = os.getProcessCpuTime / 1e9
  def gc(): Double = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime.max(0L)).sum / 1e3

  /** Steal ticks of the whole machine so far (`/proc/stat`, 8th field of
    * the `cpu` line); -1 where the file is not readable. */
  def stealTicks(): Long =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().find(_.startsWith("cpu ")).map(_.trim.split("\\s+")(8).toLong).getOrElse(-1L)
      finally src.close()
    } catch { case _: Exception => -1L }

  def time[T](f: => T): (T, Double) = {
    val t0 = now()
    val r = f
    (r, now() - t0)
  }
}

/** Per-layer sample sink: named time samples (seconds) and counts. */
final class Samples {
  private val xs = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  def add(name: String, v: Double): Unit =
    xs.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v
  def get(name: String): Seq[Double] = xs.getOrElse(name, Nil).toSeq
  def median(name: String): Double =
    if (get(name).isEmpty) 0.0 else Stats.median(get(name))
}

/** Output checks. Each check verifies one collected output against an
  * expectation computed apart from the program. In self-test mode every
  * check is also run on a copy of its output with one row dropped and on
  * a copy with one row altered, and must reject both. */
final class Checker(selfTest: Boolean) {
  val failures = mutable.ArrayBuffer.empty[String]
  private val proven = mutable.LinkedHashMap.empty[String, Int]
  private val seen = mutable.LinkedHashSet.empty[String]

  def check[T](name: String, out: IndexedSeq[T], alter: T => T)
              (verify: IndexedSeq[T] => Option[String]): Unit = {
    verify(out).foreach(e => failures += s"$name: $e")
    seen += name
    if (selfTest && out.nonEmpty) {
      val i = out.length / 2
      val dropped = out.patch(i, Nil, 1)
      val altered = out.updated(i, alter(out(i)))
      require(altered(i) != out(i), s"self-test of $name: alteration is a no-op")
      if (verify(dropped).isEmpty) failures += s"self-test: $name accepts a dropped row"
      if (verify(altered).isEmpty) failures += s"self-test: $name accepts an altered row"
      proven(name) = proven.getOrElse(name, 0) + 1
    }
  }

  /** Equality of two collections as multisets, with a short diff. */
  def sameBag[T](got: Iterable[T], want: Iterable[T]): Option[String] = {
    def bag(x: Iterable[T]) = x.groupBy(identity).view.mapValues(_.size).toMap
    val g = bag(got); val w = bag(want)
    if (g == w) None
    else {
      val missing = w.keySet.filter(k => g.getOrElse(k, 0) < w(k)).take(3)
      val extra = g.keySet.filter(k => w.getOrElse(k, 0) < g(k)).take(3)
      Some(s"got ${got.size} rows, want ${want.size}; missing e.g. $missing; unexpected e.g. $extra")
    }
  }

  def provenChecks: Seq[(String, Int)] = proven.toSeq
  /** Checks that never saw a non-empty output to mutate. */
  def unproven: Seq[String] = seen.toSeq.filterNot(proven.contains)
}

/** Spark work per operation kind, counted by a listener the benchmark
  * owns. The operation kind rides the `perfbench.op` local property,
  * which Spark copies into every job and stage the calling thread (or a
  * thread it starts, such as a streaming query's) submits. */
final class Tracer(spark: SparkSession) extends SparkListener {
  val Kinds = Seq("write", "read", "maintain")
  private final class Acc {
    val jobs, tasks, cpuNs, shuffleB, writtenB = new AtomicLong
  }
  private val acc = Kinds.map(_ -> new Acc).toMap
  private val stageKind = new java.util.concurrent.ConcurrentHashMap[Int, String]

  private def kindOf(p: java.util.Properties): Option[String] =
    Option(p).flatMap(x => Option(x.getProperty(Tracer.Prop))).filter(acc.contains)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    kindOf(e.properties).foreach { k =>
      acc(k).jobs.incrementAndGet()
      e.stageIds.foreach(stageKind.put(_, k))
    }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    kindOf(e.properties).foreach(stageKind.put(e.stageInfo.stageId, _))
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageKind.get(e.stageId)).foreach { k =>
      val a = acc(k)
      a.tasks.incrementAndGet()
      val m = e.taskMetrics
      if (m != null) {
        a.cpuNs.addAndGet(m.executorCpuTime)
        a.shuffleB.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        a.writtenB.addAndGet(m.outputMetrics.bytesWritten)
      }
    }

  /** Counts per operation of each kind, given how many ran. */
  def perOp(ops: Map[String, Int]): Seq[(String, Double)] = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    Kinds.flatMap { k =>
      val a = acc(k); val n = ops.getOrElse(k, 0).max(1).toDouble
      Seq(s"$k.jobs" -> a.jobs.get / n, s"$k.tasks" -> a.tasks.get / n,
        s"$k.task_cpu_s" -> a.cpuNs.get / 1e9 / n,
        s"$k.shuffle_mb" -> a.shuffleB.get / 1e6 / n,
        s"$k.written_mb" -> a.writtenB.get / 1e6 / n)
    }
  }
}

object Tracer {
  val Prop = "perfbench.op"
  /** Run `f` as one operation of `kind` (also outside traced runs: a
    * local property costs nothing without a listener). */
  def as[T](spark: SparkSession, kind: String)(f: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(Prop)
    sc.setLocalProperty(Prop, kind)
    try f finally sc.setLocalProperty(Prop, prev)
  }
}

/** Files and bytes under a directory. */
object Disk {
  def walk(f: java.io.File): Seq[java.io.File] =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
    else if (f.isFile) Seq(f) else Nil
  def mb(dir: String): Double = walk(new java.io.File(dir)).map(_.length).sum / 1e6
  def parquetFiles(dir: String): Int =
    walk(new java.io.File(dir)).count(_.getName.endsWith(".parquet"))
  def rmrf(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(rmrf)
    f.delete()
  }
}
