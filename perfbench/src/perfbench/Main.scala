package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import graft.{Caches, Graft, SparkEntry, Tables}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.functions._

/** The benchmark's JVM half: runs one workload's operation log against
  * the engine as a closed loop with one client and writes the raw
  * per-request record that `run.py` turns into metrics.
  *
  * Usage: perfbench.Main <workload> <oplog> <dataDir> <workDir> <out.json> <seconds> <trace 0|1> <cores>
  *
  * The engine only ever receives what the operation log names: query
  * names for `queries`, term lists, query vectors and id sets for
  * `index_churn`.
  */
object Main {

  /** Set-ups per run; `setup_s` is their median. */
  val Setups = 3
  /** `index_churn` maintenance policy, identical on every run: every
    * maintenance call defragments each appended-to bucket and retires
    * every tombstone, so each call does work. */
  val MaxFilesPerBucket = 1
  val MaxTombstones     = 0L
  val PostingsBuckets   = 16
  val IvfBuckets        = 8
  /** k of the end-of-run comparisons with a fresh build. */
  val FinalTopK         = 10

  final case class Op(kind: String, args: Array[String]) {
    def arg(i: Int): String = args(i)
    def ids(i: Int): Seq[Long] = if (args(i).isEmpty) Nil else args(i).split(',').toSeq.map(_.toLong)
  }

  /** One timed request's raw record. */
  final class Req(val id: String, val name: String, val kind: String, val module: String, val traced: Boolean) {
    var ms        = 0.0
    var ok        = true
    var error     = ""
    var rows      = 0L
    val counters  = mutable.LinkedHashMap[String, Double]()
  }

  def main(args: Array[String]): Unit = {
    val Array(workload, oplogPath, dataDir, workDir, outPath, secondsS, traceS, coresS) = args
    new Bench(workload, readOps(oplogPath), dataDir, workDir, secondsS.toDouble, traceS == "1", coresS.toInt)
      .run(Paths.get(outPath))
    sys.exit(0)
  }

  def readOps(path: String): Seq[Op] =
    Files.readAllLines(Paths.get(path), UTF_8).asScala.toSeq.filter(_.nonEmpty).map { l =>
      val parts = l.split("\t", -1)
      Op(parts.head, parts.tail)
    }
}

object Bench {
  /** The timed action of a query request: `collect` evaluates every
    * output row and column, where a `count()` would let Catalyst prune
    * projections and sorts (`PlanCheck` shows the difference on q27).
    */
  def timedAction(df: DataFrame): Array[Row] = df.collect()
}

final class Bench(
    workload: String,
    ops: Seq[Main.Op],
    dataDir: String,
    workDir: String,
    seconds: Double,
    trace: Boolean,
    cores: Int) {
  import Main._

  private var spark: SparkSession = _
  private val listener             = new GroupListener
  private val tracer               = new Tracer(trace)
  private val requests             = ArrayBuffer[Req]()
  private val failures             = ArrayBuffer[(String, String)]()
  private val setupSeconds         = ArrayBuffer[Double]()
  private val reference            = mutable.LinkedHashMap[String, String]()
  private val extra                = mutable.LinkedHashMap[String, Double]()
  /** index_churn: the fresh build's BM25 answers per term list, and the
    * surviving doc ids, for the DuckDB check in `run.py`. */
  private val finalBm25            = ArrayBuffer[(String, Seq[(Long, Double)])]()
  private var survivors            = Seq[Long]()
  private var reqSeq               = 0

  /** Sweeps (queries) or cycles (index_churn), cut at the op log's
    * `warmup` and `cycle` markers. The timed loop runs whole cycles
    * only, so every run times the same request mix whatever its seed.
    */
  private val (warmups, cycles): (Seq[Seq[Op]], Seq[Seq[Op]]) = {
    val out = ArrayBuffer[(String, ArrayBuffer[Op])]()
    ops.foreach { op =>
      if (op.kind == "warmup" || op.kind == "cycle") out += ((op.kind, ArrayBuffer[Op]()))
      else out.last._2 += op
    }
    val (w, c) = out.partition(_._1 == "warmup")
    (w.map(_._2.toSeq).toSeq, c.map(_._2.toSeq).toSeq)
  }

  private def newSession(): Unit = {
    if (spark != null) spark.stop()
    spark = Graft.session(master = s"local[$cores]", shufflePartitions = cores)
    spark.sparkContext.setLogLevel("ERROR")
    if (trace) spark.sparkContext.addSparkListener(listener)
  }

  def run(out: Path): Unit = {
    val index = if (workload == "index_churn") Some(new IndexChurn) else None
    // set-up k: a fresh session, then the index builds (index_churn) or
    // the k-th warm-up sweep (queries); warm-up cycles left after the
    // set-ups run untimed in the last session
    (1 to Setups).foreach { k =>
      val t0 = System.nanoTime()
      newSession()
      index match {
        case Some(ix) => ix.setup(k)
        case None     => touchTables(); warmups.lift(k - 1).getOrElse(Nil).foreach(runQuery(_, timed = false, traced = false))
      }
      setupSeconds += (System.nanoTime() - t0) / 1e9
    }
    index.foreach(_.loadModels())
    val w0 = System.nanoTime()
    (if (index.isEmpty) warmups.drop(Setups) else warmups).zipWithIndex.foreach { case (cycle, i) =>
      cycle.foreach { op =>
        index match {
          case Some(ix) => ix.execute(op, timed = false, traced = false)
          case None     => runQuery(op, timed = false, traced = false)
        }
      }
      index.foreach(_.endCycle(s"warmup$i"))
    }
    extra("warmup_s") = (System.nanoTime() - w0) / 1e9
    index.foreach(_.startTimed())
    val cpu0     = hostCpu()
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var done     = 0
    var spent    = 0L
    // a traced run needs one traced and one untraced cycle at least
    val minCycles = if (trace) 2 else 1
    while (done < cycles.size && (done < minCycles || System.nanoTime() < deadline)) {
      val c0     = System.nanoTime()
      // traced runs alternate traced and untraced cycles, so the tracing
      // overhead is measured inside one run on the same request mix
      val traced = trace && done % 2 == 0
      cycles(done).foreach { op =>
        index match {
          case Some(ix) => ix.execute(op, timed = true, traced = traced)
          case None     => runQuery(op, timed = true, traced = traced)
        }
      }
      spent += System.nanoTime() - c0
      index.foreach(_.endCycle(s"cycle$done"))
      done += 1
    }
    extra("cycles") = done
    extra("timed_wall_s") = spent / 1e9
    val cpu1 = hostCpu()
    val total = (cpu1.sum - cpu0.sum).toDouble
    // host CPU accounting over the timed region, a diagnostic of how much
    // of the machine this run had: share busy and share stolen by the host
    extra("host_busy_share") = if (total > 0) 1.0 - (cpu1(3) + cpu1(4) - cpu0(3) - cpu0(4)) / total else 0.0
    extra("host_steal_share") = if (total > 0) (cpu1(7) - cpu0(7)) / total else 0.0
    val f0 = System.nanoTime()
    index match {
      case Some(ix) => ix.finish()
      case None     => checkApproximate()
    }
    extra("final_checks_s") = (System.nanoTime() - f0) / 1e9
    val rss = peakRssMb()
    val json = Json.obj(
      "workload"      -> Json.str(workload),
      "cores"         -> cores.toString,
      "trace"         -> trace.toString,
      "setup_s"       -> Json.arr(setupSeconds.map(_.toString).toSeq),
      "peak_rss_mb"   -> rss.toString,
      "extra"         -> Json.obj(extra.toSeq.map { case (k, v) => k -> Json.num(v) }: _*),
      "reference"     -> Json.obj(reference.toSeq.map { case (k, v) => k -> Json.str(v) }: _*),
      "oracle_sql"    -> Json.obj(reference.keys.toSeq.flatMap(q => SparkEntry.oracleSql.get(q).map(s => q -> Json.str(s))): _*),
      "twin_checked"  -> Json.arr(reference.keys.toSeq.filter(approximate.contains).map(Json.str)),
      "final_bm25"    -> Json.arr(finalBm25.toSeq.map { case (ts, rows) =>
        Json.obj("terms" -> Json.arr(ts.split(',').toSeq.map(Json.str)), "k" -> FinalTopK.toString,
          "rows" -> Json.arr(rows.map { case (d, v) => Json.arr(Seq(d.toString, Json.num(v))) }))
      }),
      "survivors"     -> Json.arr(survivors.map(_.toString)),
      "cycle_writes"  -> index.map(_.cycleWritesJson).getOrElse("[]"),
      "failures"      -> Json.arr(failures.toSeq.map { case (r, m) => Json.obj("request" -> Json.str(r), "reason" -> Json.str(m)) }),
      "env"           -> environment(),
      "requests"      -> Json.arr(requests.toSeq.map(requestJson)))
    Files.write(out, json.getBytes(UTF_8))
    if (trace) writeSpans(Paths.get(out.toString.replaceAll("\\.json$", "") + ".spans.jsonl"))
    spark.stop()
  }

  // ---------- queries ----------

  /** The session's first read of every table's footer schema. */
  private def touchTables(): Unit = {
    val t = Tables(spark, dataDir)
    Seq(t.region, t.nation, t.customer, t.supplier, t.part, t.orders, t.lineitem, t.events, t.documents, t.embeddings)
      .foreach(_.schema)
  }

  private lazy val queries = SparkEntry.queries

  /** One request: build the query, plan it, and run the timed action. */
  private def runQuery(op: Main.Op, timed: Boolean, traced: Boolean): Unit = {
    val name   = op.arg(0)
    val module = op.arg(1)
    val req    = newReq(name, "query", module, traced)
    val sc     = spark.sparkContext
    val dirs0  = dirListings()
    var df: DataFrame = null
    var rows: Array[Row] = null
    val w0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try {
      sc.setJobGroup(req.id, name)
      tracer.span(req.id, 0, "request") { root =>
        Caches.scoped(spark) {
          df = tracer.span(req.id, root, "build")(_ => queries(name)(spark, dataDir))
          val b1 = System.nanoTime()
          tracer.span(req.id, root, "plan")(_ => df.queryExecution.executedPlan)
          req.counters("build_ms") = (b1 - t0) / 1e6
          rows = tracer.span(req.id, root, "action")(_ => Bench.timedAction(df))
        }
      }
    } catch { case e: Throwable => fail(req, e) }
    finally sc.clearJobGroup()
    req.ms = (System.nanoTime() - t0) / 1e6
    val w1 = System.currentTimeMillis()
    if (req.ok) {
      req.rows = rows.length
      val fp = Fingerprint.of(df.columns.toSeq, rows)
      reference.get(name) match {
        case None                   => reference(name) = fp
        case Some(ref) if ref != fp => fail(req, s"result fingerprint $fp differs from the checked answer $ref")
        case _                          =>
      }
      if (traced) planCounters(req, df)
    }
    if (traced) {
      req.counters("dir_listings") = (dirListings() - dirs0).toDouble
      recordScheduler(req, w0, w1)
    }
    if (timed) requests += req
  }

  /** Approximate distinct counts against their exact twins, within the
    * relative error `SketchAccuracySpec` documents (0.10).
    */
  private val approximate = Map(
    "x01p_approx_distinct_prod" -> ("x01e_exact_distinct", "event_type", "approx_users", "exact_users"))

  private def checkApproximate(): Unit =
    approximate.filter { case (q, _) => reference.contains(q) }.foreach { case (q, (twin, key, est, exact)) =>
      def rows(name: String) = Caches.scoped(spark)(queries(name)(spark, dataDir).collect())
      val bad =
        try {
          val truth = rows(twin).map(r => r.getAs[Any](key).toString -> r.getAs[Number](exact).doubleValue).toMap
          rows(q).map(r => r.getAs[Any](key).toString -> r.getAs[Number](est).doubleValue).collectFirst {
            case (k, v) if math.abs(v - truth(k)) / truth(k) > 0.10 => s"$k: estimate $v vs exact ${truth(k)}"
          }
        } catch { case e: Throwable => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
      bad.foreach { m =>
        failures += ((q, s"approximation check: $m"))
        requests.filter(_.name == q).foreach { r => r.ok = false; r.error = m }
      }
    }

  // ---------- index_churn ----------

  /** The persisted-index lifecycle: a BM25 postings index over the even
    * half of `documents` and an IVF index over the even half of
    * `embeddings`, then appends of the odd halves, deletes of live ids,
    * incremental maintenance and searches. Every search answer is
    * checked against `Bm25Model` / `IvfModel` over the live ids the
    * operation log has produced so far.
    */
  final class IndexChurn {
    private var name  = ""
    private var root  = ""
    private val liveDocs = mutable.Set[Long]()
    private val liveVecs = mutable.Set[Long]()
    /** Last row of the latest checked `bm25` answer per term list: the
      * cursor of the `bm25_after` page that follows it. */
    private val lastPage = mutable.Map[String, (Double, Long)]()
    private var userBytes    = 0L
    private var writtenBytes = 0L
    private var cycleUser    = 0L
    private var cycleWritten = 0L
    /** (cycle, user bytes ingested, index bytes written) per cycle. */
    private val cycleWrites  = ArrayBuffer[(String, Long, Long)]()
    private var batchId      = 0L
    private val perEntry     = mutable.LinkedHashMap[String, Array[Double]]()
    private var lastMaintain = Map[String, Double]()
    private var bm25: Bm25Model = _
    private var ivf: IvfModel   = _
    /** The frozen 8-centroid model of `e10_ann_ivf_indexed`: vectors 0..7. */
    private val CentroidIds = 0L until 8L
    private def centroids = {
      val e = tables.embeddings
        .select(col("vec_id"), graft.similarity.Knn.asDouble(col("embedding")).as("v"))
        .withColumn("nrm", sqrt(graft.similarity.Knn.dot(col("v"), col("v"))))
      e.filter(col("vec_id").isin(CentroidIds: _*)).select(col("vec_id").as("c_id"), col("v").as("cv"), col("nrm").as("cn"))
    }
    private def tables = Tables(spark, dataDir)

    def setup(k: Int): Unit = {
      if (root.nonEmpty) deleteTree(Paths.get(root))
      name = s"churn$k"
      root = s"$workDir/index$k"
      liveDocs.clear(); liveVecs.clear(); lastPage.clear()
      batchId = 0L
      val t    = tables
      val docs = t.documents.filter(col("doc_id") % 2 === 0)
      val vecs = t.embeddings.filter(col("vec_id") % 2 === 0)
      // the last set-up's builds are traced like requests
      val traced = trace && k == Setups
      build("retrieval", "writeIndex", s"$root/postings", traced) {
        graft.retrieval.Postings.writeIndex(docs, "doc_id", "text", name, s"$root/postings", buckets = PostingsBuckets)
      }
      build("similarity", "writeIvfIndex", s"$root/ivf", traced) {
        graft.similarity.Knn.writeIvfIndex(vecs, centroids, "vec_id", "embedding", name, s"$root/ivf", buckets = IvfBuckets)
      }
      liveDocs ++= docs.select("doc_id").collect().map(_.getLong(0))
      liveVecs ++= vecs.select("vec_id").collect().map(_.getLong(0))
      snapshot = dirSizes()
    }

    /** Loads the raw documents and vectors into the answer models; runs
      * once, after the set-ups, outside every timed region. */
    def loadModels(): Unit = {
      val t = tables
      bm25 = new Bm25Model(t.documents.filter(col("text").isNotNull).select("doc_id", "text").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap)
      ivf = new IvfModel(t.embeddings.select("vec_id", "embedding").collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap, CentroidIds)
    }

    private def build(module: String, entry: String, dir: String, traced: Boolean)(body: => Unit): Unit =
      if (!traced) body
      else {
        val group = s"setup-$entry"
        val sc    = spark.sparkContext
        val t0    = System.nanoTime()
        sc.setJobGroup(group, entry)
        try tracer.span(group, 0, s"$module.$entry")(_ => body)
        finally sc.clearJobGroup()
        val ms    = (System.nanoTime() - t0) / 1e6
        val stats = listener.drain(sc, group)
        accumulate(s"$module.$entry", ms, stats.jobsStarted, fileSizes(Paths.get(dir)).values.sum.toDouble)
      }

    private def accumulate(key: String, ms: Double, jobs: Double, written: Double): Unit = {
      val acc = perEntry.getOrElseUpdate(key, Array(0.0, 0.0, 0.0, 0.0))
      acc(0) += 1; acc(1) += ms; acc(2) += jobs; acc(3) += written
    }

    /** Path -> (size, modification time) of every file under the index root. */
    private var snapshot = Map[String, (Long, Long)]()
    private def dirSizes(): Map[String, (Long, Long)] =
      if (!Files.exists(Paths.get(root))) Map.empty
      else {
        val s = Files.walk(Paths.get(root))
        try s.iterator.asScala.filter(Files.isRegularFile(_))
          .map(p => p.toString -> ((Files.size(p), Files.getLastModifiedTime(p).toMillis))).toMap
        finally s.close()
      }

    /** Bytes of files created or rewritten under the index root since the last call. */
    private def bytesWrittenSinceLast(): Long = {
      val now = dirSizes()
      val w   = now.iterator.collect { case (p, st) if !snapshot.get(p).contains(st) => st._1 }.sum
      snapshot = now
      w
    }

    /** Write and ingest accounting of `write_amp` covers the timed stream only. */
    def startTimed(): Unit = { userBytes = 0L; writtenBytes = 0L; snapshot = dirSizes() }

    /** Closes one cycle's write accounting. */
    def endCycle(label: String): Unit = {
      cycleWrites += ((label, cycleUser, cycleWritten))
      cycleUser = 0L; cycleWritten = 0L
    }

    /** A search request's build, plan and timed action, as for queries. */
    private def search(req: Req, parent: Int)(build: => DataFrame): (DataFrame, Array[Row]) = {
      val b0 = System.nanoTime()
      val df = tracer.span(req.id, parent, "build")(_ => build)
      req.counters("build_ms") = (System.nanoTime() - b0) / 1e6
      tracer.span(req.id, parent, "plan")(_ => df.queryExecution.executedPlan)
      (df, tracer.span(req.id, parent, "action")(_ => Bench.timedAction(df)))
    }

    /** `ivf` arguments: k, then one `id:v1,v2,...` per query vector. */
    private def ivfQueries(op: Main.Op): Seq[(Long, Array[Float])] =
      op.args.toSeq.drop(1).map { q =>
        val Array(id, v) = q.split(':')
        id.toLong -> v.split(',').map(_.toFloat)
      }

    def execute(op: Main.Op, timed: Boolean, traced: Boolean): Unit = {
      val (entry, kind, module) = op.kind match {
        case "bm25"         => ("bm25TopK", "search", "retrieval")
        case "bm25_after"   => ("bm25TopKAfter", "search", "retrieval")
        case "ivf"          => ("ivfTopK", "search", "similarity")
        case "append_docs"  => ("appendBatch", "write", "retrieval")
        case "delete_docs"  => ("deleteBatch", "write", "retrieval")
        case "append_vecs"  => ("appendIvfBatch", "write", "similarity")
        case "delete_vecs"  => ("deleteIvfBatch", "write", "similarity")
        case "maintain_postings" => ("maintainIncremental", "maintain", "retrieval")
        case "maintain_ivf"      => ("maintainIvfIncremental", "maintain", "similarity")
      }
      val req   = newReq(entry, kind, module, traced)
      val sc    = spark.sparkContext
      val dirs0 = dirListings()
      val t     = tables
      // a page-2 search needs the cursor of its checked page 1
      val cursor = if (op.kind == "bm25_after") lastPage.get(op.arg(0)) else None
      if (op.kind == "bm25_after" && cursor.isEmpty) {
        fail(req, s"no cursor: the preceding bm25 request for [${op.arg(0)}] did not pass its check")
        if (timed) requests += req
        return
      }
      var searched: (DataFrame, Array[Row]) = null
      batchId += 1
      val w0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      try {
        sc.setJobGroup(req.id, entry)
        tracer.span(req.id, 0, "request") { rootSpan =>
          Caches.scoped(spark) {
            tracer.span(req.id, rootSpan, s"$module.$entry") { span =>
              op.kind match {
                case "bm25" | "bm25_after" =>
                  val terms = op.arg(0).split(',').toSeq
                  val k     = op.arg(1).toInt
                  searched = search(req, span) {
                    val post  = graft.retrieval.Postings.livePostings(spark, name)
                    val stats = graft.retrieval.Postings.statsTable(spark, name)
                    cursor match {
                      case Some((score, doc)) => graft.retrieval.Postings.bm25TopKAfter(post, stats, terms, k, score, doc)
                      case None               => graft.retrieval.Postings.bm25TopK(post, stats, terms, k)
                    }
                  }
                case "ivf" =>
                  val session = spark
                  import session.implicits._
                  searched = search(req, span) {
                    val qs = ivfQueries(op).map { case (id, v) => (id, v.toSeq) }.toDF("vec_id", "embedding")
                    graft.similarity.Knn.ivfTopK(spark, name, qs, "vec_id", "embedding", k = op.arg(0).toInt, excludeSelf = false)
                  }
                case "append_docs" =>
                  graft.retrieval.Postings.appendBatch(
                    t.documents.filter(col("doc_id").isin(op.ids(0): _*)), "doc_id", "text", name, batchId = batchId)
                case "delete_docs" =>
                  graft.retrieval.Postings.deleteBatch(
                    t.documents.filter(col("doc_id").isin(op.ids(0): _*)), "doc_id", "text", name, batchId = batchId)
                case "append_vecs" =>
                  graft.similarity.Knn.appendIvfBatch(
                    t.embeddings.filter(col("vec_id").isin(op.ids(0): _*)), "vec_id", "embedding", name, batchId = batchId)
                case "delete_vecs" =>
                  graft.similarity.Knn.deleteIvfBatch(
                    t.embeddings.filter(col("vec_id").isin(op.ids(0): _*)).select("vec_id", "embedding"),
                    "vec_id", name, batchId = batchId, vecCol = Some("embedding"))
                case "maintain_postings" =>
                  graft.retrieval.Postings.maintainIncremental(spark, name, MaxFilesPerBucket, MaxTombstones)
                case "maintain_ivf" =>
                  graft.similarity.Knn.maintainIvfIncremental(spark, name, MaxFilesPerBucket, MaxTombstones)
              }
            }
          }
        }
      } catch { case e: Throwable => fail(req, e) }
      finally sc.clearJobGroup()
      req.ms = (System.nanoTime() - t0) / 1e6
      val w1 = System.currentTimeMillis()
      // the client-side model of the index, and the per-request checks
      // against it, run outside the timed region
      if (req.ok) op.kind match {
        case "bm25" | "bm25_after" =>
          val got = searched._2.toSeq.map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("score"))
          req.rows = got.length
          val want = bm25.topK(liveDocs, op.arg(0).split(',').toSeq, op.arg(1).toInt, cursor)
          cursor.foreach { case (s, d) =>
            got.find { case (id, v) => !(v < s || (v == s && id > d)) }
              .foreach(r => fail(req, s"row $r is not after the cursor ($s, $d)"))
          }
          if (got != want) fail(req, s"answer differs from the BM25 model over the live documents: ${firstDiff(got, want)}")
          if (op.kind == "bm25" && req.ok && got.nonEmpty) lastPage(op.arg(0)) = got.last.swap
        case "ivf" =>
          val got = searched._2.toSeq
            .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("cell"), r.getAs[Long]("n_id"), r.getAs[Long]("rank"), r.getAs[Double]("cos")))
            .sortBy(r => (r._1, r._4))
          req.rows = got.length
          val want = ivfQueries(op).flatMap { case (id, v) =>
            val (c, rows) = ivf.topK(liveVecs, v, op.arg(0).toInt)
            rows.map { case (n, rank, cos) => (id, c, n, rank, cos) }
          }.sortBy(r => (r._1, r._4))
          if (got != want) fail(req, s"answer differs from the IVF model over the live vectors: ${firstDiff(got, want)}")
        case "append_docs" => liveDocs ++= op.ids(0); userBytes += op.arg(1).toLong; cycleUser += op.arg(1).toLong
        case "append_vecs" => liveVecs ++= op.ids(0); userBytes += op.arg(1).toLong; cycleUser += op.arg(1).toLong
        case "delete_docs" => liveDocs --= op.ids(0)
        case "delete_vecs" => liveVecs --= op.ids(0)
        case _             =>
      }
      val written = if (kind == "search") 0L else bytesWrittenSinceLast()
      writtenBytes += written
      cycleWritten += written
      if (traced) {
        req.counters("dir_listings") = (dirListings() - dirs0).toDouble
        req.counters("bytes_written") = written.toDouble
        recordScheduler(req, w0, w1)
        if (searched != null && req.ok) planCounters(req, searched._1)
        if (kind == "maintain")
          try lastMaintain = lastMaintain ++ layoutCounters(module)
          catch { case e: Throwable => fail(req, e) }
        accumulate(s"$module.$entry", req.ms, req.counters("jobs"), written)
      }
      if (timed) requests += req
    }

    private def firstDiff[A](got: Seq[A], want: Seq[A]): String =
      got.zipAll(want, null, null).zipWithIndex.collectFirst {
        case ((g, w), i) if g != w => s"row $i: got $g, expected $w (${got.length} rows, expected ${want.length})"
      }.getOrElse("")

    /** Files per bucket and tombstones, read after a maintenance call. */
    private def layoutCounters(module: String): Map[String, Double] = {
      val (dir, tombs) =
        if (module == "retrieval") (s"$root/postings/postings", graft.retrieval.Postings.tombstones(spark, name))
        else (s"$root/ivf/ivf", spark.table(s"${name}_ivftombs"))
      val perBucket = fileSizes(Paths.get(dir)).keys.filter(_.endsWith(".parquet"))
        .flatMap(p => "_(\\d{5})(\\.c\\d+)?\\.".r.findFirstMatchIn(p).map(_.group(1)))
        .groupBy(identity).values.map(_.size)
      Map(s"$module.files_per_bucket_max" -> (if (perBucket.isEmpty) 0.0 else perBucket.max.toDouble),
        s"$module.tombstones" -> tombs.count().toDouble)
    }

    /** Term lists of the end-of-run checks. */
    private def finalTermSets: Seq[String] = ops.filter(_.kind == "bm25").map(_.arg(0)).distinct.take(2)

    /** End-of-run checks: both indexes pass their own fsck, and top-k
      * answers equal those of a fresh build over the surviving rows.
      * The fresh build's BM25 answers and the survivors go into the
      * result, where `run.py` checks them against DuckDB.
      */
    def finish(): Unit = {
      def clean(what: String, checks: DataFrame): Unit = {
        val bad = checks.collect().filter(r => r.toSeq.exists { case b: Boolean => !b; case _ => false })
        if (bad.nonEmpty) failures += ((what, bad.map(_.mkString(" ")).mkString("; ")))
      }
      def guarded(what: String)(body: => Unit): Unit = {
        val t0 = System.nanoTime()
        try body catch { case e: Throwable => failures += ((what, s"${e.getClass.getSimpleName}: ${e.getMessage}")) }
        extra(s"final_checks.$what.s") = (System.nanoTime() - t0) / 1e9
      }
      guarded("checkIndex")(clean("checkIndex", graft.retrieval.Postings.checkIndex(spark, name)))
      guarded("checkIvfIndex")(clean("checkIvfIndex", graft.similarity.Knn.checkIvfIndex(spark, name)))
      val fresh     = s"${name}_fresh"
      val freshRoot = s"$workDir/fresh"
      guarded("fresh build") {
        val t = tables
        graft.retrieval.Postings.writeIndex(
          t.documents.filter(col("doc_id").isin(liveDocs.toSeq: _*)), "doc_id", "text", fresh, s"$freshRoot/postings",
          buckets = PostingsBuckets)
        graft.similarity.Knn.writeIvfIndex(
          t.embeddings.filter(col("vec_id").isin(liveVecs.toSeq: _*)), centroids, "vec_id", "embedding", fresh,
          s"$freshRoot/ivf", buckets = IvfBuckets)
        finalTermSets.foreach { ts =>
          def top(n: String) = graft.retrieval.Postings.bm25TopK(
            graft.retrieval.Postings.livePostings(spark, n), graft.retrieval.Postings.statsTable(spark, n),
            ts.split(',').toSeq, FinalTopK).collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("score"))).toSeq
          val (a, b) = (top(name), top(fresh))
          if (a != b) failures += ((s"bm25TopK[$ts]", s"maintained index $a != fresh build $b"))
          finalBm25 += ((ts, b))
        }
        val session = spark
        import session.implicits._
        val qs = ops.filter(_.kind == "ivf").take(1).flatMap(ivfQueries).map { case (id, v) => (id, v.toSeq) }
          .toDF("vec_id", "embedding")
        def knn(n: String) = graft.similarity.Knn.ivfTopK(spark, n, qs, "vec_id", "embedding", k = FinalTopK, excludeSelf = false)
          .collect().map(_.toSeq.mkString(",")).sorted.toSeq
        if (knn(name) != knn(fresh)) failures += (("ivfTopK", "maintained IVF index differs from a fresh build"))
      }
      survivors = liveDocs.toSeq.sorted
      val onDisk = fileSizes(Paths.get(root)).values.sum.toDouble
      val freshBytes = fileSizes(Paths.get(freshRoot)).values.sum.toDouble
      extra("index.write_amp") = if (userBytes == 0) 0.0 else writtenBytes.toDouble / userBytes
      extra("index.space_amp") = if (freshBytes == 0) 0.0 else onDisk / freshBytes
      extra("index.user_bytes") = userBytes.toDouble
      extra("index.written_bytes") = writtenBytes.toDouble
      lastMaintain.foreach { case (k, v) => extra(k) = v }
      perEntry.foreach { case (k, a) =>
        extra(s"$k.calls") = a(0); extra(s"$k.ms") = a(1) / a(0); extra(s"$k.jobs") = a(2) / a(0)
        extra(s"$k.bytes_written") = a(3) / a(0)
      }
    }

    def cycleWritesJson: String = Json.arr(cycleWrites.toSeq.map { case (c, u, w) =>
      Json.obj("cycle" -> Json.str(c), "user_bytes" -> u.toString, "written_bytes" -> w.toString)
    })
  }

  // ---------- shared ----------

  private def newReq(name: String, kind: String, module: String, traced: Boolean): Req = {
    reqSeq += 1
    new Req(s"r$reqSeq", name, kind, module, traced)
  }

  private def fail(req: Req, e: Throwable): Unit =
    fail(req, s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").linesIterator.take(3).mkString(" ")}")

  private def fail(req: Req, msg: String): Unit = {
    if (req.ok) failures += ((req.name, msg))
    req.ok = false
    req.error = msg
  }

  /** Scheduler counters of one request; `wallStart` and `wallEnd` (epoch
    * ms) bound its timed region, the window `driver_ms` is measured in. */
  private def recordScheduler(req: Req, wallStart: Long, wallEnd: Long): Unit = {
    val s         = listener.drain(spark.sparkContext, req.id)
    val c         = req.counters
    c("jobs") = s.jobsStarted; c("stages") = s.stages; c("tasks") = s.tasks
    c("driver_ms") = math.max(0.0, req.ms - Intervals.covered(s.stageIntervals.toSeq, wallStart, wallEnd))
    c("sched_wait_ms") = s.schedWaitMs; c("task_busy_ms") = s.taskBusyMs
    c("task_cpu_ms") = s.taskCpuNs / 1e6; c("gc_ms") = s.gcMs
    c("core_util") = if (req.ms <= 0) 0.0 else s.taskBusyMs / (req.ms * cores)
    c("shuffle_write_bytes") = s.shuffleWriteBytes; c("shuffle_read_bytes") = s.shuffleReadBytes
    c("spill_bytes") = s.spillBytes; c("input_bytes") = s.inputBytes; c("input_records") = s.inputRecords
  }

  /** Planning time (analysis, optimisation, physical planning), time
    * spent in the engine's own `graft.plans` rules, and files scanned,
    * of the DataFrame a request ran.
    */
  private def planCounters(req: Req, df: DataFrame): Unit = {
    val qe = df.queryExecution
    req.counters("plan_ms") = qe.tracker.phases.values.map(_.durationMs.toDouble).sum
    req.counters("graft_rule_ms") =
      qe.tracker.rules.collect { case (r, s) if r.startsWith("graft.plans.") => s.totalTimeNs / 1e6 }.sum
    req.counters("files_read") = scanFiles(qe.executedPlan)
  }

  private def scanFiles(plan: SparkPlan): Double = {
    val all = mutable.ArrayBuffer[SparkPlan]()
    def walk(p: SparkPlan): Unit = {
      all += p
      p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec        => walk(q.plan)
        case _ =>
      }
      p.children.foreach(walk)
      p.subqueries.foreach(walk)
    }
    walk(plan)
    all.collect { case s: org.apache.spark.sql.execution.FileSourceScanExec => s.metrics.get("numFiles").map(_.value).getOrElse(0L) }
      .sum.toDouble
  }

  private def dirListings(): Long = graft.perfbench.Counters.dirListings

  private def fileSizes(dir: Path): Map[String, Long] =
    if (!Files.exists(dir)) Map.empty
    else {
      val s = Files.walk(dir)
      try s.iterator.asScala.filter(Files.isRegularFile(_)).map(p => p.toString -> Files.size(p)).toMap
      finally s.close()
    }

  private def deleteTree(dir: Path): Unit =
    if (Files.exists(dir)) {
      val s = Files.walk(dir)
      try s.iterator.asScala.toSeq.reverse.foreach(p => Files.deleteIfExists(p))
      finally s.close()
    }

  /** The aggregate `cpu` line of /proc/stat (user, nice, system, idle,
    * iowait, irq, softirq, steal, ...), in clock ticks. */
  private def hostCpu(): Array[Long] =
    try Files.readAllLines(Paths.get("/proc/stat")).asScala.head.trim.split("\\s+").drop(1).map(_.toLong)
    catch { case _: Throwable => Array.fill(10)(0L) }

  private def peakRssMb(): Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).asScala.find(_.startsWith("VmHWM:"))
    line.map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)
  }

  private def environment(): String = {
    val rt = java.lang.management.ManagementFactory.getRuntimeMXBean
    Json.obj(
      "spark_version" -> Json.str(spark.version),
      "scala_version" -> Json.str(scala.util.Properties.versionNumberString),
      "java_version"  -> Json.str(System.getProperty("java.version")),
      "nproc"         -> Runtime.getRuntime.availableProcessors.toString,
      "cores"         -> cores.toString,
      "max_heap_mb"   -> (Runtime.getRuntime.maxMemory / (1L << 20)).toString,
      "jvm_args"      -> Json.arr(rt.getInputArguments.asScala.toSeq.filterNot(_.startsWith("--add-opens")).map(Json.str)),
      "spark_conf"    -> Json.obj(spark.conf.getAll.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.str(v) }: _*),
      "index_policy"  -> Json.obj(
        "max_files_per_bucket" -> MaxFilesPerBucket.toString, "max_tombstones" -> MaxTombstones.toString,
        "postings_buckets" -> PostingsBuckets.toString, "ivf_buckets" -> IvfBuckets.toString),
      "setups"        -> Setups.toString)
  }

  private def requestJson(r: Req): String = Json.obj(
    Seq(
      "id" -> Json.str(r.id), "name" -> Json.str(r.name), "kind" -> Json.str(r.kind),
      "module" -> Json.str(r.module), "traced" -> r.traced.toString, "ms" -> Json.num(r.ms),
      "ok" -> r.ok.toString, "error" -> Json.str(r.error), "rows" -> r.rows.toString) ++
      r.counters.toSeq.map { case (k, v) => k -> Json.num(v) }: _*)

  private def writeSpans(path: Path): Unit = {
    val lines = tracer.spans.map { s =>
      Json.obj("request" -> Json.str(s.request), "id" -> s.id.toString, "parent" -> s.parent.toString,
        "name" -> Json.str(s.name), "start_ns" -> s.startNs.toString, "end_ns" -> s.endNs.toString)
    }
    Files.write(path, lines.mkString("", "\n", "\n").getBytes(UTF_8))
  }
}

/** Minimal JSON writer for the result record. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def obj(kv: (String, String)*): String = kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
}
