package perfbench

import graft.functions.Embedding
import graft.model.EmbeddedChunk
import graft.operators.{Embed, IngestionPipeline, SemanticChunker}
import graft.sources.{DatabaseSource, MarkdownSource, PdfSource, SqliteReader}
import graft.store.{BucketedVectorStore, ChunkStore, SnapshotStore, VectorStore}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}
import scala.collection.mutable

/** The steps a workload is made of. */
sealed trait Step
case object Ref extends Step
case object Write extends Step
case object Singles extends Step
case object Batch extends Step
case object Operators extends Step
case object Compact extends Step

/** A workload: store layout, sizes, the untimed warm-up steps, and the
  * fixed step sequence of one cycle. The timed window is a whole number of
  * cycles, as many as take about `--seconds` on a 4-core machine
  * (`cycleSeconds` each there); the count depends on the argument only,
  * never on a timer.
  */
final case class Workload(name: String, layout: String, baseDocs: Int,
    upsertDocs: Int, deleteDocs: Int, cycle: Seq[Step], cycleSeconds: Double,
    warmup: Seq[Step] = Seq(Singles)) {
  def window(seconds: Int): Seq[Step] =
    Seq.fill(math.max(1, math.round(seconds / cycleSeconds).toInt))(cycle).flatten
}

object Workload {
  /** Operator subset: top-k (ROADMAP item 2), graph loop (item 3), and two
    * controls that use neither mechanism.
    */
  val OperatorQueries: Seq[String] = Seq("q145_ann_rank_quality",
    "q54_neardup_components", "q06_join_agg_topk", "q21_cosine_topk")

  val Modes: Seq[String] = Seq("exact", "lsh", "ivfsq")
  val AnnModes: Seq[String] = Modes.tail

  /** Queries per `searchAll` batch. */
  val BatchQueries = 4

  /** Extra queries, lsh and ivfsq, answered in one batch each after the
    * window for the recall metrics.
    */
  val RecallQueries: (Int, Int) = (24, 6)

  /** Read-heavy: three rounds of single searches in all three modes on
    * the bucketed layout, then a small write. The first search after a
    * sidecar refresh is slower; the round after each write pays for it.
    * The window has only two writes, so the warm-up writes once first:
    * the first write of a JVM is slower by up to a quarter.
    */
  val serve: Workload = Workload("serve", "bucketed", baseDocs = 300,
    upsertDocs = 10, deleteDocs = 1,
    cycle = Seq(Singles, Singles, Singles, Write), cycleSeconds = 13,
    warmup = Seq(Write, Singles))

  /** Write-heavy: one compaction period on the snapshot layout. Three
    * writes (revised documents, deletes, index refreshes), each followed
    * by a search round, so searches see one, two and three deltas over the
    * base; then compaction with vacuum and a round on the compacted store.
    * Its base is smaller than serve's because a search here merges every
    * delta and costs about three times as much.
    */
  val churn: Workload = Workload("churn", "snapshot", baseDocs = 200,
    upsertDocs = 10, deleteDocs = 1,
    cycle = Seq(Write, Singles, Write, Singles, Write, Singles, Compact, Singles),
    cycleSeconds = 30)

  /** A short pass over every step on both layouts, run once per build to
    * record the classes the benchmark loads (see run.py).
    */
  val train: Seq[Workload] = Seq(
    Workload("train-bucketed", "bucketed", baseDocs = 40, upsertDocs = 3,
      deleteDocs = 1, cycle = Seq(Write), cycleSeconds = 1),
    Workload("train-snapshot", "snapshot", baseDocs = 40, upsertDocs = 3,
      deleteDocs = 1, cycle = Seq(Write, Batch, Compact), cycleSeconds = 1))

  /** Traced runs only, after the window: the layers without an end-to-end
    * metric, each run once untimed and once timed.
    */
  val Probe: Seq[Step] = Seq(Ref, Batch, Operators, Compact)

  val all: Map[String, Workload] =
    (Seq(serve, churn) ++ train).map(w => w.name -> w).toMap
}

final case class Opts(workload: Workload, seed: Long, seconds: Int,
    trace: Boolean, work: Path, resources: Path, tables: Path, out: Path,
    cores: Int)

/** One benchmark run: set-up, warm-up, timed window, checks, metrics. */
final class Run(spark: SparkSession, o: Opts, tracer: Tracer) {
  import spark.implicits._

  private val w = o.workload
  private val in = new Inputs(o.seed, o.resources.resolve("content"))
  private val golden = Checks.golden(o.resources)
  private val Coll = "corpus"
  private val K = 10

  // Samples of the timed window; `timing` is false during set-up/warm-up.
  private var timing = false
  private val singleMs = Workload.Modes.map(_ -> mutable.ArrayBuffer.empty[Double]).toMap
  private val recalls = Workload.AnnModes.map(_ -> mutable.ArrayBuffer.empty[Double]).toMap
  private val batchRuns = Workload.Modes.map(_ -> mutable.ArrayBuffer.empty[(Int, Double)]).toMap
  private val refS = mutable.ArrayBuffer.empty[Double]
  private val baseIngest = mutable.ArrayBuffer.empty[(Int, Double)]
  private val searchableS = mutable.ArrayBuffer.empty[Double]
  private val opWalls = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private val counts: mutable.Map[String, Double] =
    mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)

  /** Adds to a per-layer count; only the timed window is counted. */
  private def count(name: String, v: Double): Unit = if (timing) counts(name) += v

  var attempted = 0L
  var failed = 0L
  val failures: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty
  /** How often each operator query ran, for the oracle verdicts. */
  val opRuns: mutable.Map[String, Int] =
    mutable.LinkedHashMap.empty[String, Int].withDefaultValue(0)

  // Store state.
  private var root: Path = _
  private var store: ChunkStore = _
  private var bodies: IndexedSeq[String] = IndexedSeq.empty
  private val live = mutable.LinkedHashSet.empty[Long]
  private val deleted = mutable.HashSet.empty[String]
  private var mirror: Array[(String, Array[Float], String)] = Array.empty
  private var mirrorScore: Map[String, Array[Float]] = Map.empty
  private var docOfKey: Map[String, String] = Map.empty
  private val seenQueries = mutable.HashSet.empty[String]
  private val qRng = in.rng(1)
  private val writeRng = in.rng(2)
  private var cycle = 0
  private var refSeq = 0
  private var revisedNow: Set[String] = Set.empty

  private def newStore(dir: Path): ChunkStore = w.layout match {
    case "bucketed" => new BucketedVectorStore(spark, dir.toString, o.cores)
    case "snapshot" => new SnapshotStore(spark, dir.toString, o.cores)
  }

  private def secs[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** One client operation: counted, exceptions and failed checks are
    * failures; the body returns whether its answer checked out.
    */
  private def op(kind: String)(body: => Boolean): Unit = {
    attempted += 1
    tracer.newRequest()
    val why = try {
      if (tracer.span(s"request.$kind")(body)) None else Some("answer check failed")
    } catch {
      case e: Throwable => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}")
    }
    why.foreach { msg =>
      failed += 1
      if (failures.size < 50) failures += s"$kind: $msg".take(400)
    }
  }

  private def articlesDf(rows: Seq[(Long, String, String)]): DataFrame =
    rows.toDF("id", "title", "body")

  // ---- ingest ------------------------------------------------------------

  /** Logical bytes of chunk rows: strings as UTF-8 plus 4 bytes a float. */
  private def logicalBytes(df: DataFrame): Double =
    df.select(sum(expr("octet_length(key) + octet_length(content) + " +
      "octet_length(context) + octet_length(documentid) + 4 * size(embedding)"))
    ).head().getLong(0).toDouble

  private def dirBytes(p: Path): Map[String, Long] =
    if (!Files.exists(p)) Map.empty
    else {
      val s = Files.walk(p)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.filter(Files.isRegularFile(_))
          .map(f => f.toString -> Files.size(f)).toMap
      } finally s.close()
    }

  /** Ingest element rows into `coll`. Untraced this is the pipeline call
    * users make; traced it runs the pipeline's public steps one by one,
    * materialising between them, so each layer gets its own span.
    */
  private def ingest(elements: => Dataset[graft.model.ElementRow],
      s: ChunkStore, coll: String): Seq[graft.model.IngestionResult] =
    if (!tracer.enabled)
      IngestionPipeline.run(elements, s, coll).collect().toSeq
    else {
      val els = tracer.span("parse")(elements.localCheckpoint(true))
      count("parse.elements", els.count().toDouble)
      val chunks = tracer.span("chunk")(
        SemanticChunker.default.chunks(els).localCheckpoint(true))
      count("chunk.chunks", chunks.count().toDouble)
      val emb = tracer.span("embed")(
        Embed.chunks(chunks, Embedding.default).localCheckpoint(true))
      count("embed.vectors", emb.count().toDouble)
      val before = dirBytes(root.resolve(coll))
      tracer.span("commit.upsert")(s.upsert(emb, coll))
      val after = dirBytes(root.resolve(coll))
      val fresh = after.filter { case (f, n) => !before.get(f).contains(n) }
      count("commit.bytes_written", fresh.values.sum.toDouble)
      count("commit.files_written", fresh.size.toDouble)
      count("commit.logical_bytes", logicalBytes(emb.toDF()))
      emb.groupBy($"documentid").count().collect().map { r =>
        graft.model.IngestionResult(r.getString(0), true, r.getLong(1), None)
      }.toSeq
    }

  // ---- set-up ------------------------------------------------------------

  /** Fresh store with the base ingest of `baseDocs` articles. */
  private def ingestBase(rep: Int): Double = {
    root = o.work.resolve(s"store$rep")
    store = newStore(root)
    val r = in.rng(100)
    val base = (0 until w.baseDocs).map(i => in.article(r, i.toLong))
    val (_, ingestS) = secs(IngestionPipeline.run(
      DatabaseSource.elements(articlesDf(base)), store, Coll).collect())
    baseIngest += ((base.size, ingestS))
    bodies = base.map(_._3).toIndexedSeq
    live.clear(); live ++= base.map(_._1)
    deleted.clear()
    ingestS
  }

  /** Set-up: the base ingest `reps` times into fresh stores (their median
    * counts), then both sidecars built once over the last one. Returns the
    * ingest walls, the set-up time and the build's (ns, ms) intervals,
    * which the traced run adds to its per-layer intervals.
    */
  private def setup(reps: Int): (Seq[Double], Double, (Long, Long), (Long, Long)) = {
    val ingests = (0 until reps).map(ingestBase)
    val ns0 = System.nanoTime()
    val ms0 = System.currentTimeMillis()
    Workload.AnnModes.foreach(mode =>
      tracer.span("index.build")(store.buildIndex(Coll, mode)))
    val ns1 = System.nanoTime()
    (ingests, Stats.median(ingests) + (ns1 - ns0) / 1e9, (ns0, ns1),
      (ms0, System.currentTimeMillis()))
  }

  /** The collection's rows on the driver, for the brute-force checks. */
  private def refreshMirror(): Unit = {
    mirror = tracer.span("check")(store.read(Coll)
      .select($"key", $"embedding", $"documentid")
      .as[(String, Array[Float], String)].collect())
    mirrorScore = mirror.map(m => m._1 -> m._2).toMap
    docOfKey = mirror.map(m => m._1 -> m._3).toMap
  }

  private def truth(q: String): Seq[(String, Double)] =
    Checks.bruteTopK(mirror.map(m => (m._1, m._2)), Embedding.default.embed(q), K)

  private def scoreOf(q: Array[Float])(key: String): Option[Double] =
    mirrorScore.get(key).map(v => Checks.round6(Checks.cosine(v, q)))

  private def spaceAmp(): Double = tracer.span("check") {
    val onDisk = dirBytes(root.resolve(Coll)).values.sum.toDouble
    onDisk / logicalBytes(store.read(Coll))
  }

  // ---- steps ---------------------------------------------------------------

  private def singles(): Unit = {
    val q = in.spanQuery(qRng, bodies, seenQueries)
    val qv = Embedding.default.embed(q)
    var exactKeys = Seq.empty[String]
    Workload.Modes.foreach { mode =>
      op(s"search.$mode") {
        val (rows, s) = secs(tracer.span(s"search.$mode")(
          store.search(Coll, q, K, mode = mode)
            .select($"key", $"score", $"documentid").collect()))
        if (timing) singleMs(mode) += s * 1000
        val ans = rows.map(r => (r.getString(0), r.getDouble(1))).toSeq
        val docsOk = Checks.noDeleted(rows.map(_.getString(2)).toSeq, deleted.toSet)
        if (mode == "exact") {
          exactKeys = ans.map(_._1)
          docsOk && Checks.exactMatches(ans, truth(q), scoreOf(qv))
        } else {
          if (timing) recalls(mode) += Checks.recall(ans.map(_._1), exactKeys)
          if (tracer.enabled) {
            count("sidecar.asked", 1)
            if (store.hasFreshIndex(Coll, mode)) count("sidecar.hit", 1)
          }
          docsOk && ans.size == K
        }
      }
    }
  }

  private def batch(): Unit =
    Workload.Modes.foreach(mode => searchAll(mode, Workload.BatchQueries))

  /** One `searchAll` of `n` fresh queries. Exact answers must equal the
    * brute-force top-k; approximate ones count toward recall when
    * `forRecall` is set.
    */
  private def searchAll(mode: String, n: Int, forRecall: Boolean = false): Unit = {
    val qs = Seq.fill(n)(in.spanQuery(qRng, bodies, seenQueries))
    op(s"search.batch.$mode") {
      val (rows, s) = secs(tracer.span(s"search.batch.$mode")(
        store.searchAll(Coll, qs.indices.map(i => (i.toLong, qs(i))), K,
          mode = mode).collect()))
      if (timing && !forRecall) batchRuns(mode) += ((qs.size, s))
      val byQ = rows.groupBy(_.getLong(0))
      val docsOk = rows.forall(r => !docOfKey.get(r.getString(1)).exists(deleted))
      docsOk && qs.indices.forall { i =>
        val ans = byQ.getOrElse(i.toLong, Array.empty)
          .map(r => (r.getString(1), r.getDouble(2))).toSeq
          .sortBy { case (k, sc) => (-sc, k) }
        val exact = truth(qs(i))
        if (forRecall) recalls(mode) += Checks.recall(ans.map(_._1), exact.map(_._1))
        if (mode == "exact")
          Checks.exactMatches(ans, exact, scoreOf(Embedding.default.embed(qs(i))))
        else ans.size == K
      }
    }
  }

  /** Revise `upsertDocs` live documents (each tagged with this cycle's
    * marker), delete `deleteDocs` others, and refresh both sidecars for
    * the touched ids; the wall of the three is one searchable sample.
    */
  private def write(): Unit = {
    cycle += 1
    val marker = s"mk${cycle}q"
    val pool = live.toIndexedSeq
    val picked = mutable.LinkedHashSet.empty[Long]
    while (picked.size < w.upsertDocs + w.deleteDocs)
      picked += pool(writeRng.nextInt(pool.size))
    val (ups, dels) = picked.toSeq.splitAt(w.upsertDocs)
    val revised = ups.map(id => in.article(writeRng, id, s"$marker $marker"))
    val delIds = dels.map(id => s"Article #$id")
    val touched = ups.map(id => s"Article #$id") ++ delIds
    op("write") {
      val (results, s) = secs {
        val res = tracer.span("write.ingest")(
          ingest(DatabaseSource.elements(articlesDf(revised)), store, Coll))
        tracer.span("commit.delete")(store.delete(Coll, delIds))
        Workload.AnnModes.foreach(mode =>
          tracer.span("index.refresh")(store.refreshIndex(Coll, mode, touched)))
        res
      }
      if (timing) searchableS += s
      live --= dels
      deleted ++= delIds
      revisedNow = ups.map(id => s"Article #$id").toSet
      results.size == ups.size && results.forall(r => r.succeeded && r.n_chunks > 0)
    }
    bodies = bodies ++ revised.map(_._3)
    refreshMirror()
    op("search.marker") {
      val docs = store.search(Coll, marker, K).select($"documentid")
        .as[String].collect().toSeq
      Checks.containsRevised(docs, revisedNow) &&
        Checks.noDeleted(docs, deleted.toSet)
    }
  }

  /** The reference's 30 documents, one pipeline run per reader into a
    * fresh per-document store, as the CLI ingests them.
    */
  private def ref(): Unit = {
    refSeq += 1
    val content = o.resources.resolve("content")
    val vs = new VectorStore(spark, o.work.resolve(s"ref/$refSeq").toString)
    op("ref") {
      val (results, s) = secs(Seq(
        ("markdown", "md", () => MarkdownSource.elements(spark, content.resolve("markdown").toString)),
        ("pdf", "pdf", () => PdfSource.elements(spark, content.resolve("pdf").toString)),
        ("database", "db", () => {
          val rows = SqliteReader.readTable(content.resolve("CMS.DB").toString, "Items")
            .map(r => (r.long(0), r.string(1), r.string(2)))
          DatabaseSource.elements(spark.createDataFrame(rows).toDF("id", "title", "body"))
        })
      ).flatMap { case (reader, coll, els) =>
        tracer.span("pipeline")(IngestionPipeline.run(els(), vs, coll).collect())
          .map(r => (reader, r))
      })
      if (timing) refS += s
      val chains = Seq("md" -> "markdown", "pdf" -> "pdf", "db" -> "database")
        .map { case (c, reader) =>
          vs.read(c).select(lit(reader).as("reader"),
            col("documentid").cast("string").as("documentid"),
            md5(col("content")).as("m"),
            aggregate(col("embedding"), lit(0L),
              (acc, v) => acc + round(v.cast("double") * 1e6).cast("long")).as("e"))
        }.reduce(_ unionByName _)
        .groupBy($"reader", $"documentid")
        .agg(md5(concat_ws("", sort_array(collect_list($"m")))).as("md5"),
          sum($"e").as("e6"))
        .collect().map(r => (r.getString(0), r.getString(1)) ->
          (r.getString(2), r.getLong(3).toString)).toMap
      val got: Checks.Cert = results.map { case (reader, r) =>
        val (m, e) = chains.getOrElse((reader, r.documentid), ("", ""))
        (reader, r.documentid) -> (r.succeeded, r.n_chunks, m, e)
      }.toMap
      Checks.certMatches(got, golden)
    }
  }

  private def operators(): Unit = Workload.OperatorQueries.foreach { q =>
    op(s"op.$q") {
      val out = o.work.resolve(s"ops/$q").toString
      val (_, s) = secs(tracer.span(s"op.$q")(
        graft.SparkEntry.queries(q)(spark, o.tables.toString)
          .write.mode("overwrite").parquet(out)))
      if (timing) opWalls.getOrElseUpdate(q, mutable.ArrayBuffer.empty) += s
      opRuns(q) += 1
      true // checked against the DuckDB oracle after the run
    }
  }

  /** Compaction, then the sidecars made fresh again. */
  private def compact(): Unit = {
    op("compact") {
      val before = dirBytes(root.resolve(Coll))
      val (fb, fa) = tracer.span("maint.compact")(store.compact(Coll))
      // Snapshot compaction leaves the old files for time travel; vacuum
      // drops them. The rename-commit layouts need no vacuum.
      store match {
        case s: SnapshotStore => count("maint.vacuum_files",
          tracer.span("maint.vacuum")(s.vacuum(Coll, 1, 0L))._1.toDouble)
        case _ =>
      }
      if (tracer.enabled) {
        val after = dirBytes(root.resolve(Coll))
        count("maint.bytes_rewritten", after
          .filter { case (f, n) => !before.get(f).contains(n) }.values.sum.toDouble)
        count("maint.files_before", fb.toDouble)
        count("maint.files_after", fa.toDouble)
        count("maint.compactions", 1)
      }
      // Compaction changes no row. The snapshot layout keeps the sidecars,
      // so re-stamping them (a refresh of no documents) makes them fresh;
      // the rename-commit layouts drop them, so they are rebuilt.
      Workload.AnnModes.foreach { mode =>
        if (w.layout == "snapshot")
          tracer.span("index.refresh")(store.refreshIndex(Coll, mode, Nil))
        else tracer.span("index.build")(store.buildIndex(Coll, mode))
      }
      Workload.AnnModes.forall(store.hasFreshIndex(Coll, _))
    }
    // The checks keep the rows read before compaction, which must not
    // change any answer.
  }

  private def step(s: Step): Unit = s match {
    case Ref => ref()
    case Write => write()
    case Singles => singles()
    case Batch => batch()
    case Operators => operators()
    case Compact => compact()
  }

  // ---- the run -------------------------------------------------------------

  /** `traced` are the intervals whose spans feed the per-layer metrics:
    * the set-up's sidecar build, the window and, in traced runs, the timed
    * probe pass.
    */
  final case class Outcome(baseIngestS: Seq[Double], windowS: Double,
      traced: Seq[(Long, Long)], tracedMs: Seq[(Long, Long)], e2e: Map[String, Double],
      inputs: Map[String, Double], gcMs: Double)

  def execute(setupReps: Int): Outcome = {
    val (ingests, setupS, build, buildMs) = setup(setupReps)
    refreshMirror()
    w.warmup.foreach(step)
    System.err.println(f"perfbench: base ingests ${ingests.mkString(" ")} s, " +
      f"set-up $setupS%.2f s, " +
      s"${ManagementFactory.getRuntimeMXBean.getUptime / 1000.0} s since JVM start")
    System.gc()
    val gc0 = Weather.gcMs()
    timing = true
    val t0 = System.nanoTime()
    val ms0 = System.currentTimeMillis()
    w.window(o.seconds).foreach(step)
    val t1 = System.nanoTime()
    val ms1 = System.currentTimeMillis()
    timing = false
    val gcMs = Weather.gcMs() - gc0
    val heap = usedHeapMb()
    val amp = spaceAmp()
    // Recall needs more queries than the window's rounds give; these
    // batches add them without adding latency samples.
    val (_, recallS) = secs {
      searchAll("lsh", Workload.RecallQueries._1, forRecall = true)
      searchAll("ivfsq", Workload.RecallQueries._2, forRecall = true)
    }
    System.err.println(f"perfbench: recall batches $recallS%.1f s")
    System.err.println("perfbench: samples " + (singleMs.toSeq ++ Seq(
      "searchable" -> searchableS)).map { case (k, v) =>
      s"$k=${v.map(x => f"$x%.3f").mkString(",")}" }.mkString(" "))
    System.err.println(f"perfbench: window ${(t1 - t0) / 1e9}%.1f s, " +
      s"${ManagementFactory.getRuntimeMXBean.getUptime / 1000.0} s since JVM start")
    val e2e = mutable.LinkedHashMap[String, Double](
      "setup_s" -> setupS,
      // The first ingest of a JVM is cold; the rate is the steady one.
      "ingest_docs_per_s" -> Stats.median(baseIngest.drop(1).map { case (n, t) => n / t }.toSeq))
    Workload.Modes.foreach(m => e2e(s"${m}_p50_ms") = Stats.median(singleMs(m).toSeq))
    Workload.AnnModes.foreach(m => e2e(s"${m}_recall_at_10") = Stats.mean(recalls(m).toSeq))
    e2e("searchable_p50_s") = Stats.median(searchableS.toSeq)
    e2e("space_amp") = amp
    e2e("heap_mb") = heap

    // Traced runs go on to the probe: untimed once, then timed once.
    var probe = (0L, 0L)
    var probeMs = (0L, 0L)
    if (tracer.enabled) {
      Workload.Probe.foreach(step)
      timing = true
      val p0 = System.nanoTime()
      val pms0 = System.currentTimeMillis()
      Workload.Probe.foreach(step)
      probe = (p0, System.nanoTime())
      probeMs = (pms0, System.currentTimeMillis())
      timing = false
    }
    val inputs = mutable.LinkedHashMap.empty[String, Double]
    inputs ++= counts
    Workload.Modes.foreach { m =>
      if (singleMs(m).nonEmpty)
        inputs(s"search.$m.p90_ms") = Stats.quantile(singleMs(m).toSeq, 0.9)
      inputs(s"search.$m.n") = singleMs(m).size.toDouble
      if (batchRuns(m).nonEmpty) {
        inputs(s"search.batch.$m.queries") = batchRuns(m).map(_._1).sum.toDouble
        inputs(s"search.batch.$m.qps") =
          batchRuns(m).map(_._1).sum / batchRuns(m).map(_._2).sum
      }
    }
    if (refS.nonEmpty) inputs("ref.batch_s") = Stats.median(refS.toSeq)
    opWalls.foreach { case (q, v) => inputs(s"op.$q.s") = Stats.median(v.toSeq) }
    Outcome(ingests, (t1 - t0) / 1e9, Seq(build, (t0, t1), probe),
      Seq(buildMs, (ms0, ms1), probeMs), e2e.toMap,
      inputs.toMap, gcMs)
  }

  /** Used heap after forced collections. Spark frees broadcast and
    * checkpoint blocks when their references are collected, so one
    * collection can leave garbage the next one reclaims; the least of
    * three readings is taken.
    */
  private def usedHeapMb(): Double = (0 until 3).map { _ =>
    System.gc()
    Thread.sleep(100)
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }.min

  /** Tracing overhead, measured in the traced run itself: exact searches
    * alternately with the listener and spans on and with both off.
    */
  def traceOverheadPct(spark: SparkSession, jobs: JobLog): Double = {
    val on = mutable.ArrayBuffer.empty[Double]
    val off = mutable.ArrayBuffer.empty[Double]
    (0 until 4).foreach { _ =>
      Seq(true, false).foreach { traced =>
        if (!traced) spark.sparkContext.removeSparkListener(jobs)
        tracer.enabled = traced
        val q = in.spanQuery(qRng, bodies, seenQueries)
        val (_, s) = secs(tracer.span("search.exact")(
          store.search(Coll, q, K).collect()))
        (if (traced) on else off) += s
        tracer.enabled = true
        if (!traced) spark.sparkContext.addSparkListener(jobs)
      }
    }
    (Stats.median(on.toSeq) / Stats.median(off.toSeq) - 1) * 100
  }
}
