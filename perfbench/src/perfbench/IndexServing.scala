package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.operators.{Bm25, IndexMaintenance, IndexStats, IvfPq, MaxSim, OperatorCaches}

/** Serving from persisted indexes: small ingests and deletes against
  * IVF-PQ, BM25 and MaxSim token indexes, a search batch against all
  * three every cycle, and a maintenance pass every third cycle. Every
  * result is checked against scorers written here, over the live corpus
  * the generator records. */
final class IndexServing(spark: SparkSession, dir: String, seed: Long,
                         chk: Checker) extends Workload(spark, dir, seed, chk) {
  // one search batch is ~85 Spark jobs, a maintenance pass ~95
  val warmCycles = 1
  val minCycles = 3
  val cycleS = 12.0
  val writeSample = "write"
  val readSample = "read"

  private val Dim = 16
  private val Clusters = 16
  private val K = 10
  /** IVF-PQ recall@10 against exact cosine kNN, averaged over the batch. */
  private val RecallFloor = 0.6
  private val Tag = "perfbench"
  private val Vocab = (0 until 400).map(i => s"w$i")
  private def ivf = s"$dir/ivfpq"
  private def bm = s"$dir/bm25"
  private def ms = s"$dir/maxsim"

  private var rnd: java.util.SplittableRandom = _
  private var centers: IndexedSeq[Array[Double]] = _
  private val vectors = mutable.LinkedHashMap.empty[Long, Array[Double]]
  private val docs = mutable.LinkedHashMap.empty[Long, Seq[String]]
  private val tokDocs = mutable.LinkedHashMap.empty[Long, Seq[Array[Double]]]
  private val deleted = mutable.Set.empty[Long]
  private var nextId = 0L
  private var ivfQ: Seq[(Long, Array[Double])] = _
  private var bmQ: Seq[(Long, Seq[String])] = _
  private var msQ: Seq[(Long, Seq[Array[Double]])] = _

  private def gauss(c: Array[Double], s: Double) = c.map(_ + s * rnd.nextGaussian())
  private def vec(): Array[Double] = gauss(centers(rnd.nextInt(Clusters)), 0.35)
  /** Zipf-like word draw, so some terms are common and some rare. */
  private def word(): String = Vocab(math.min(Vocab.size - 1,
    (math.pow(rnd.nextDouble(), 2.2) * Vocab.size).toInt))
  private def text(n: Int) = Seq.fill(n)(word())
  private def tokens(): Seq[Array[Double]] = {
    val c = centers(rnd.nextInt(Clusters)).take(8)
    Seq.fill(3 + rnd.nextInt(4))(c.map(_ + 0.5 * rnd.nextGaussian()))
  }

  private def vecDf(xs: Seq[(Long, Array[Double])]): DataFrame = spark.createDataFrame(
    java.util.Arrays.asList(xs.map { case (i, v) => Row(i, v.toSeq) }: _*),
    StructType(Seq(StructField("vec_id", LongType), StructField("embedding", ArrayType(DoubleType)))))
  private def docDf(xs: Seq[(Long, Seq[String])]): DataFrame = spark.createDataFrame(
    java.util.Arrays.asList(xs.map { case (i, t) => Row(i, t.mkString(" ")) }: _*),
    StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType))))
  private def tokDf(idName: String, xs: Seq[(Long, Seq[Array[Double]])]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(xs.flatMap { case (i, ts) =>
      ts.zipWithIndex.map { case (v, j) => Row(i, j, v.toSeq) } }: _*),
      StructType(Seq(StructField(idName, LongType), StructField("tok", IntegerType),
        StructField("vec", ArrayType(DoubleType)))))
  private def idDf(name: String, ids: Seq[Long]): DataFrame = spark.createDataFrame(
    java.util.Arrays.asList(ids.map(Row(_)): _*), StructType(Seq(StructField(name, LongType))))

  private def fresh(n: Int): Seq[Long] = Seq.fill(n) { nextId += 1; nextId }

  def prepare(): Unit = {
    rnd = new java.util.SplittableRandom(seed)
    centers = IndexedSeq.fill(Clusters)(Array.fill(Dim)(rnd.nextGaussian()))
    vectors.clear(); docs.clear(); tokDocs.clear(); deleted.clear(); nextId = 0L
    fresh(3000).foreach(i => vectors(i) = vec())
    fresh(2000).foreach(i => docs(i) = text(6 + rnd.nextInt(12)))
    fresh(400).foreach(i => tokDocs(i) = tokens())
    ivfQ = (1 to 24).map(q => (1000000L + q, vec()))
    bmQ = (1 to 16).map(q => (q.toLong, Seq(word(), Vocab(20 + rnd.nextInt(200)))))
    msQ = (1 to 8).map(q => (1000000L + q, tokens().take(3)))
    IvfPq.writeIndex(vecDf(vectors.toSeq), ivf, nClusters = Clusters, m = 8, ks = 16)
    Bm25.writeIndex(docDf(docs.toSeq), bm)
    MaxSim.writeTokenIndex(tokDf("doc_id", tokDocs.toSeq), ms, nClusters = 8)
  }

  /** Ingests one small batch into each index and tombstones a few ids. */
  private def ingest(i: Int): Unit = {
    val v = fresh(40).map(id => id -> vec())
    val d = fresh(30).map(id => id -> text(6 + rnd.nextInt(12)))
    val t = fresh(8).map(id => id -> tokens())
    def victims(live: Iterable[Long], n: Int) = {
      val xs = live.filterNot(deleted).toIndexedSeq
      Seq.fill(n)(xs(rnd.nextInt(xs.size))).distinct
    }
    val dv = victims(vectors.keys, 4); val dd = victims(docs.keys, 4)
    val dt = victims(tokDocs.keys, 2)
    timedAs("operators.ivfpq.append_s")(IvfPq.appendBatchDir(vecDf(v), ivf, Tag, i))
    timedAs("operators.bm25.append_s")(Bm25.appendBatchDir(docDf(d), bm, Tag, i))
    timedAs("operators.maxsim.append_s")(
      MaxSim.appendTokenBatchDir(tokDf("doc_id", t), ms, Tag, i))
    timedAs("operators.ivfpq.delete_s")(IvfPq.deleteFromIndex(idDf("vec_id", dv), ivf))
    timedAs("operators.bm25.delete_s")(Bm25.deleteFromIndex(idDf("doc_id", dd), bm))
    timedAs("operators.maxsim.delete_s")(MaxSim.deleteFromTokenIndex(idDf("doc_id", dt), ms))
    v.foreach { case (id, x) => vectors(id) = x }
    d.foreach { case (id, x) => docs(id) = x }
    t.foreach { case (id, x) => tokDocs(id) = x }
    deleted ++= dv ++ dd ++ dt
  }

  private type Hits = IndexedSeq[(Long, Long, Double, Int)]
  private def hits(df: DataFrame): Hits = df.collect().map(r =>
    (r.getAs[Number](0).longValue, r.getAs[Number](1).longValue,
      r.getAs[Number](2).doubleValue, r.getAs[Number](3).intValue)).toIndexedSeq
    .sortBy(h => (h._1, h._4))

  /** One search batch against all three indexes. */
  private def search(): (Hits, Hits, Hits) = {
    val a = timedAs("operators.ivfpq.search_s")(
      hits(IvfPq.searchIndex(spark, ivf, vecDf(ivfQ), k = K)))
    val qTerms = spark.createDataFrame(java.util.Arrays.asList(bmQ.flatMap { case (q, ts) =>
      ts.distinct.map(Row(q, _)) }: _*),
      StructType(Seq(StructField("query_id", LongType), StructField("term", StringType))))
    val b = timedAs("operators.bm25.search_s")(hits(Bm25.searchIndex(spark, bm, qTerms, K)))
    val c = timedAs("operators.maxsim.search_s")(
      hits(MaxSim.searchTokenIndex(spark, ms, tokDf("query_id", msQ), k = K)))
    OperatorCaches.releaseAll(spark)
    (a, b, c)
  }

  private val debt = mutable.ArrayBuffer.empty[(Double, Double)]

  def cycle(i: Int): Unit = {
    op("write")(timedAs("write")(ingest(i)))
    if (tracing && timed) debt += Tracer.as(spark, "stats") {
      val s = Seq(ivf -> Seq("pqcodes", "vectors"), bm -> Seq("postings", "doclens"),
        ms -> Seq("tokens", "doctokens")).map { case (d, ds) =>
        IndexStats.stats(spark, d, ds, countRows = false).head() }
      (s.map(_.getAs[Long]("live_batch_dirs")).sum.toDouble,
        s.map(_.getAs[Long]("pending_tombstones")).sum.toDouble)
    }
    val res = op("read")(timedAs("read")(search()))
    checking(checkSearch(res))
    if (i % 3 == 2) {
      op("maintain")(timedAs("maintain") {
        Seq("ivfpq" -> ivf, "bm25" -> bm, "maxsim" -> ms).foreach { case (k, d) =>
          timedAs(s"operators.$k.maintain_s")(
            IndexMaintenance.maintain(spark, d, k, maxLiveBatches = 2, maxTombstones = 5))
        }
      })
      checking {
        val after = Tracer.as(spark, "check")(search())
        Seq("ivfpq" -> (res._1, after._1), "bm25" -> (res._2, after._2),
          "maxsim" -> (res._3, after._3)).foreach { case (k, (b, a)) =>
          chk.check(s"index.$k.same_after_maintenance", a,
            (h: (Long, Long, Double, Int)) => h.copy(_3 = h._3 + 1))(g => chk.sameBag(g, b))
        }
      }
    }
  }

  private def cos(a: Array[Double], b: Array[Double]): Double = {
    var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
    d / (math.sqrt(na) * math.sqrt(nb))
  }
  private def round4(x: Double): Double = {
    val s = x * 10000.0
    (if (s >= 0) math.floor(s + 0.5) else math.ceil(s - 0.5)) / 10000.0
  }

  /** Ranks are 1..k per query, scores fall with rank (ties by id), and
    * every query got `want` hits. */
  private def wellFormed(g: Hits, queries: Seq[Long], want: Int): Option[String] = {
    val by = g.groupBy(_._1)
    queries.find(q => by.get(q).forall(_.size != want)).map(q =>
      s"query $q got ${by.get(q).map(_.size).getOrElse(0)} hits, want $want")
      .orElse(by.values.find { hs =>
        val s = hs.sortBy(_._4)
        s.map(_._4) != (1 to s.size) || s.zip(s.drop(1)).exists { case (x, y) =>
          x._3 < y._3 || (x._3 == y._3 && x._2 > y._2) }
      }.map(h => s"query ${h.head._1} is not ranked by score"))
  }

  private def checkSearch(r: (Hits, Hits, Hits)): Unit = {
    val (a, b, c) = r
    val altId = (h: (Long, Long, Double, Int)) => h.copy(_2 = deleted.headOption.getOrElse(-1L))
    // IVF-PQ: exact scores for the hits, no tombstoned id, recall floor
    val live = vectors.filterNot(v => deleted(v._1)).toSeq
    val exact = ivfQ.map { case (q, qv) =>
      q -> live.map { case (id, v) => (id, round4(cos(qv, v))) }
        .sortBy(x => (-x._2, x._1)).take(K).map(_._1).toSet }.toMap
    val qv = ivfQ.toMap
    chk.check("index.ivfpq.search", a, altId) { g =>
      g.find(h => deleted(h._2) || !vectors.contains(h._2))
        .map(h => s"returned id ${h._2}, which is tombstoned or was never ingested")
        .orElse(g.find(h => math.abs(h._3 - round4(cos(qv(h._1), vectors(h._2)))) > 1.5e-4)
          .map(h => s"score ${h._3} of (${h._1}, ${h._2}) is not its cosine"))
        .orElse(wellFormed(g, ivfQ.map(_._1), K))
        .orElse {
          val recall = ivfQ.map { case (q, _) =>
            g.count(h => h._1 == q && exact(q)(h._2)).toDouble / K }.sum / ivfQ.size
          if (recall < RecallFloor) Some(f"recall@$K $recall%.3f below $RecallFloor") else None
        }
    }
    // BM25: equal to a brute-force scorer over the live corpus
    chk.check("index.bm25.search", b, altId)(g => chk.sameBag(g, bm25Exact()))
    // MaxSim: exact MaxSim scores for the hits, no tombstoned id
    val mq = msQ.toMap
    chk.check("index.maxsim.search", c, altId) { g =>
      g.find(h => deleted(h._2) || !tokDocs.contains(h._2))
        .map(h => s"returned id ${h._2}, which is tombstoned or was never ingested")
        .orElse(g.find(h => math.abs(h._3 - maxSim(mq(h._1), tokDocs(h._2))) > 1e-9)
          .map(h => s"score ${h._3} of (${h._1}, ${h._2}) is not its MaxSim"))
        .orElse(wellFormed(g, msQ.map(_._1), K))
    }
  }

  private def maxSim(q: Seq[Array[Double]], d: Seq[Array[Double]]): Double =
    q.map(qv => d.map(dv => { val s = cos(qv, dv) * 10000.0
      (if (s >= 0) math.floor(s + 0.5) else math.ceil(s - 0.5)).toLong }).max).sum / 10000.0

  /** BM25 (k1 = 1.2, b = 0.75) over live documents, in the operator's
    * evaluation order, scores rounded to 4 places, ties by doc id. */
  private def bm25Exact(): Hits = {
    val live = docs.filterNot(d => deleted(d._1)).toSeq
    val n = live.size.toDouble
    val avgdl = live.map(_._2.size).sum.toDouble / n
    val tf = live.map { case (id, ws) => id -> (ws.size, ws.groupBy(identity).view.mapValues(_.size).toMap) }
    bmQ.flatMap { case (q, terms) =>
      val ts = terms.distinct
      val idf = ts.map { t =>
        val df = tf.count(_._2._2.contains(t)).toDouble
        t -> StrictMath.log(1.0 + (n - df + 0.5) / (df + 0.5)) }.toMap
      tf.flatMap { case (id, (dl, m)) =>
        val parts = ts.filter(m.contains).map { t =>
          val f = m(t).toDouble
          idf(t) * f * (1.2 + 1.0) / (f + 1.2 * ((1.0 - 0.75) + 0.75 * dl / avgdl)) }
        if (parts.isEmpty) None else Some((id, round4(parts.sum)))
      }.sortBy(x => (-x._2, x._1)).take(K).zipWithIndex.map { case ((id, s), r) => (q, id, s, r + 1) }
    }.toIndexedSeq
  }

  def finish(): Unit = ()

  def layers: Seq[(String, String, Double)] =
    Layers.IndexKinds.flatMap(k => Seq("append_s", "delete_s", "search_s", "maintain_s")
      .map(m => s"operators.$k.$m")).map(n => (n, "s", samples.median(n))) ++
    Seq(("operators.live_batches", "count",
        if (debt.isEmpty) 0.0 else debt.map(_._1).sum / debt.size),
      ("operators.pending_tombstones", "count",
        if (debt.isEmpty) 0.0 else debt.map(_._2).sum / debt.size))
}
