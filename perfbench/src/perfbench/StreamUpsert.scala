package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.engine.Scd2
import graft.operators.AsOfJoin
import graft.streaming.EventStreams

/** Streaming SCD2 upserts: a seeded dimension of one source's titles
  * (name, certificate, rating) historized through
  * `EventStreams.scd2Sink`, one small micro-batch per cycle from a file
  * source with a checkpoint, each followed by an as-of read. The sink
  * treats a micro-batch as the dimension's current state (a key missing
  * from a batch is closed), so each batch carries every key, a few of
  * them with changed attributes. */
final class StreamUpsert(spark: SparkSession, dir: String, seed: Long,
                         chk: Checker) extends Workload(spark, dir, seed, chk) {
  val warmCycles = 4
  val minCycles = 16
  val cycleS = 2.0
  val writeSample = "write"
  val readSample = "read"

  /** One source's list in the reference's corpus: its top 5,000 movies
    * (`readme.txt:4`). */
  private val Keys = 5000
  /** A tenth of what one `vault_history` load changes (5 % of ratings):
    * a load's changes spread over ten micro-batches. */
  private val ChangesPerBatch = 25
  private val Certs = Seq("G", "PG", "PG-13", "R", "NC-17")
  private val Schema = StructType(Seq(StructField("id", LongType),
    StructField("name", StringType), StructField("cert", StringType),
    StructField("rating", IntegerType), StructField("ts", TimestampType)))
  private def table = s"$dir/dim"
  override def storeDir: String = table
  private def input = s"$dir/in"

  private var rnd: java.util.SplittableRandom = _
  private val state = mutable.LinkedHashMap.empty[Long, (String, String, Int)]
  /** The generator's state as of each batch, and changes sent so far. */
  private val states = mutable.ArrayBuffer.empty[Map[Long, (String, String, Int)]]
  private var changesSent = 0L
  private val progress = mutable.ArrayBuffer.empty[java.util.Map[String, java.lang.Long]]
  private var tableRows = 0L

  private def batchTs(b: Int) = java.sql.Timestamp.valueOf(
    java.time.LocalDateTime.of(2024, 1, 1, 0, 0).plusMinutes(5L * b))

  /** Writes batch `b` (the full current state) into the source directory
    * as one CSV file, without Spark, so producing it costs the program
    * nothing. The file appears by rename, so the source never sees it
    * half written. */
  private def land(b: Int): Unit = {
    val in = new java.io.File(input)
    in.mkdirs()
    val tmp = new java.io.File(dir, s"batch-$b.tmp")
    val ts = batchTs(b).toLocalDateTime
      .format(java.time.format.DateTimeFormatter.ISO_LOCAL_DATE_TIME)
    java.nio.file.Files.writeString(tmp.toPath, state.map { case (id, (n, t, s)) =>
      s"$id,$n,$t,$s,$ts\n" }.mkString)
    require(tmp.renameTo(new java.io.File(in, f"batch-$b%05d.csv")))
    states += state.toMap
  }

  /** One micro-batch: the sink query, from start to termination. */
  private def upsert(): Unit = {
    val src = spark.readStream.schema(Schema).csv(input)
    val q = EventStreams.scd2Sink(src, table, Seq("id"), Seq("name", "cert", "rating"),
      "ts", checkpointDir = Some(s"$dir/checkpoint"))
    q.awaitTermination()
    if (timed) q.recentProgress.filter(_.numInputRows > 0).foreach(p => progress += p.durationMs)
  }

  def prepare(): Unit = {
    rnd = new java.util.SplittableRandom(seed)
    state.clear(); states.clear(); changesSent = 0L; progress.clear()
    (1 to Keys).foreach(i => state(i.toLong) =
      (s"Film $i", Certs(rnd.nextInt(Certs.size)), 10 + rnd.nextInt(91)))
    land(0)
    Tracer.as(spark, "write")(upsert())
  }

  def cycle(i: Int): Unit = {
    val b = i + 1
    val keys = state.keys.toIndexedSeq
    val changed = mutable.LinkedHashSet.empty[Long]
    while (changed.size < ChangesPerBatch) changed += keys(rnd.nextInt(keys.size))
    changed.foreach { id =>
      val (n, t, s) = state(id)
      // ratings move often, certificates seldom
      state(id) = if (rnd.nextInt(5) == 0) (n, Certs((Certs.indexOf(t) + 1) % Certs.size), s)
                  else (n, t, 10 + (s - 10 + 1 + rnd.nextInt(90)) % 91)
    }
    changesSent += changed.size
    land(b)
    op("write")(timedAs("write")(timedAs("streaming.batch_s")(upsert())))
    // one as-of read at an earlier batch's time
    val past = b / 2
    val got = op("read")(timedAs("read")(timedAs("operators.asof_s")(
      AsOfJoin.validAt(spark.read.parquet(table), lit(batchTs(past)))
        .select("id", "name", "cert", "rating").collect())))
    checking {
      val rows = got.map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getInt(3))).toIndexedSeq
      chk.check("stream.as_of_read", rows, (x: (Long, String, String, Int)) => x.copy(_4 = x._4 + 1))(
        g => chk.sameBag(g, states(past).toSeq.map { case (id, (n, t, s)) => (id, n, t, s) }))
    }
  }

  /** At the end of the pass, open rows equal the generator's latest state
    * and closed rows equal the number of attribute changes sent. */
  def finish(): Unit = {
    val t = spark.read.parquet(table)
      .select(col("id"), col("name"), col("cert"), col("rating"),
        (col(Scd2.ValidTo) === Scd2.OpenEnd).as("open")).collect()
    tableRows = t.length.toLong
    val open = t.filter(_.getBoolean(4)).map(r =>
      (r.getLong(0), r.getString(1), r.getString(2), r.getInt(3))).toIndexedSeq
    chk.check("stream.open_rows", open, (x: (Long, String, String, Int)) => x.copy(_3 = "lead"))(
      g => chk.sameBag(g, state.toSeq.map { case (id, (n, tr, s)) => (id, n, tr, s) }))
    val closed = t.filterNot(_.getBoolean(4)).map(_.getLong(0)).toIndexedSeq
    chk.check("stream.closed_rows", closed, (x: Long) => -x)(g =>
      if (g.size != changesSent) Some(s"${g.size} closed rows, want $changesSent changes")
      else if (g.exists(_ <= 0)) Some("closed row with an unknown key")
      else None)
  }

  def layers: Seq[(String, String, Double)] = {
    def ms(k: String) =
      if (progress.isEmpty) 0.0
      else Stats.median(progress.toSeq.map(m => Option(m.get(k)).map(_.doubleValue).getOrElse(0.0)))
    Seq(("streaming.batch_s", "s", samples.median("streaming.batch_s")),
      ("streaming.query_planning_ms", "ms", ms("queryPlanning")),
      ("streaming.add_batch_ms", "ms", ms("addBatch")),
      ("streaming.wal_commit_ms", "ms", ms("walCommit")),
      ("streaming.commit_offsets_ms", "ms", ms("commitOffsets")),
      ("streaming.trigger_ms", "ms", ms("triggerExecution")),
      ("operators.asof_s", "s", samples.median("operators.asof_s")),
      ("streaming.table_rows", "count", tableRows.toDouble))
  }
}
