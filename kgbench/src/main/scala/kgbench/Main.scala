package kgbench

import graft.kg.{CanonicalMapping, CorpusRow, GraftConfig, GraphRag, RelatesToEdge}
import graft.kg.embed.HashEmbedder
import graft.kg.extract.RuleSVOExtractor
import graft.kg.fixtures.CorpusGen
import graft.kg.pipeline.{GraphTableIO, ParquetTableIO}
import graft.kg.stages._
import graft.kg.textspec.Sentences
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

/** The repository benchmark. Drives the public `GraphRag` facade at
  * `local[nproc]` from one client thread.
  *
  * {{{
  * Main --build-base <dir>
  * Main --workload trickle_ingest|query_mix --seed N --seconds S --trace 0|1
  *      --base <dir> --work <dir> --trace-out <file>
  * }}}
  *
  * `--build-base` builds the base store both workloads start from (a
  * fixed corpus, so it is built once per checkout, as part of the build).
  * A workload run prints a context line and, last, the result line. */
object Main {
  // base store: the fixed corpus both workloads start from
  val BaseRepos = 25
  val BaseFiles = 10
  val BaseSeed = 42L
  // 64 buckets: an 8-doc batch's names reach about half of them, below
  // the 0.75 saturation gate, so every batch takes the delta compaction
  val NumBuckets = 64
  // the trickle batch: repos disjoint from every base repo
  val BatchDocs = 8
  val BatchRepoOffset = 1000
  // query_mix: weights of the query kinds (the CLI default first)
  val Kinds = Seq("default" -> 50, "ann" -> 20, "bm25" -> 10,
    "context" -> 10, "triplets" -> 10)
  val Tables = Seq("chunks", "chunk_embeddings", "chunk_vec_index",
    "chunk_vec_meta", "terms", "edges", "edge_entity_index", "pred_index",
    "canonical_edges", "canonical_edge_entity_index", "canonical_map",
    "vertices", "aliases", "lsh_band_index")
  val StageNames = Seq("chunks", "embeddings", "terms", "triples", "link",
    "canonicalize", "edges", "vertices")
  val IoCallOps = Seq("read", "exists", "merge", "overwrite",
    "overwritePartitions", "appendNew", "rowCount", "meta")
  val IoWriteOps = Seq("merge", "overwrite", "overwritePartitions", "appendNew")

  // the alias variants of the corpus link at cosine 0.85 (as in
  // graft.ScalingBench's lsh mode), so every batch links across batches
  // and runs the incremental connected components and compaction
  val config = GraftConfig(linkMode = "lsh", linkThreshold = 0.85, numBuckets = NumBuckets)
  val nproc: Int = Runtime.getRuntime.availableProcessors()

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val code =
      try {
        if (opts.contains("build-base")) buildBase(opts("build-base"))
        else run(opts)
      } catch {
        case e: Throwable =>
          e.printStackTrace()
          2
      }
    System.exit(code)
  }

  def session(localDir: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName("kgbench")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", localDir)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  // ---------------------------------------------------------------- inputs

  private val Fact =
    "^(.+?) (imports module|is defined in file|calls function|extends class|depends on|uses) (.+)\\.$".r

  /** (subject, predicate, object) surface forms of the fact sentences of
    * a generated document, read back from the corpus templates. */
  def facts(content: String): Seq[(String, String, String)] =
    content.split("(?<=\\.) ").toSeq.collect { case Fact(a, p, b) => (a, p, b) }

  /** Ground-truth triple set of generated documents (lowered). */
  def truth(rows: Seq[CorpusRow]): Set[(String, String, String)] =
    rows.flatMap(r => facts(r.content))
      .map { case (a, p, b) => (a.toLowerCase, p, b.toLowerCase) }.toSet

  def inputBytes(rows: Seq[CorpusRow]): Long =
    rows.map(_.content.getBytes("UTF-8").length.toLong).sum

  /** Chunks the docs are cut into, and the sentences the extractor sees. */
  def chunks(rows: Seq[CorpusRow]): Long =
    rows.map(r => Ingest.chunkDoc("d", r.content, config.maxTokensPerChunk).size.toLong).sum
  def sentences(rows: Seq[CorpusRow]): Long =
    rows.map(r => Ingest.chunkDoc("d", r.content, config.maxTokensPerChunk)
      .map(c => Sentences.split(c.text).size.toLong).sum).sum

  def baseRows: Vector[CorpusRow] = CorpusGen.generate(BaseRepos, BaseFiles, BaseSeed).rows

  def batchRows(spark: SparkSession, seed: Long): Seq[CorpusRow] =
    CorpusGen.generateDistributed(spark, BatchDocs, 1, seed,
      repoOffset = BatchRepoOffset).collect().toSeq

  // ------------------------------------------------------------ store files

  def dirBytes(root: File): Long =
    if (!root.exists) 0L
    else Files.walk(root.toPath).iterator().asScala
      .filter(Files.isRegularFile(_)).map(Files.size).sum

  def dataFiles(root: File): Set[String] =
    if (!root.exists) Set.empty
    else Files.walk(root.toPath).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.getFileName.toString.startsWith("part-"))
      .map(_.toString).toSet

  def copyTree(from: Path, to: Path): Unit =
    Files.walk(from).iterator().asScala.foreach { p =>
      val t = to.resolve(from.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.copy(p, t, StandardCopyOption.COPY_ATTRIBUTES)
    }

  def deleteTree(p: File): Unit =
    if (p.exists) Files.walk(p.toPath).iterator().asScala.toSeq.reverse
      .foreach(x => Files.deleteIfExists(x))

  // ----------------------------------------------------------------- checks

  /** Distinct lowered (subj, pred, obj) set of the store's `edges`. */
  def storeTriples(spark: SparkSession, io: GraphTableIO): Set[(String, String, String)] =
    io.read(spark, "edges")
      .select(lower(col("subj")), lower(col("pred")), lower(col("obj"))).distinct()
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet

  /** `canonical_edges == Materialize.canonicalEdges(edges, canonical_map)`
    * (canonical_map holds linked names only; the others map to themselves). */
  def canonicalInvariant(spark: SparkSession, io: GraphTableIO): Boolean = {
    import spark.implicits._
    val cols = Seq("subj", "pred", "obj", "label", "sourceChunkId").map(col)
    val edges = io.read(spark, "edges").select(cols: _*).as[RelatesToEdge]
    val names = edges.toDF()
      .select(explode(array(col("subj"), col("pred"), col("obj"))).as("name")).distinct()
    val map = names.join(io.read(spark, "canonical_map"), Seq("name"), "left")
      .select(col("name"), coalesce(col("canonicalName"), col("name")).as("canonicalName"))
      .as[CanonicalMapping]
    val want = Materialize.canonicalEdges(edges, map).toDF().select(cols: _*)
    val have = io.read(spark, "canonical_edges").select(cols: _*)
    want.exceptAll(have).isEmpty && have.exceptAll(want).isEmpty
  }

  // ---------------------------------------------------------------- queries

  final case class Answer(rows: Seq[String], ok: Boolean)

  /** Run one query of `kind` to completion. `ok` = the answer respects
    * its size contract: at most topK hits (with-context: at most topK
    * matches, each with at most 2·contextSize neighbours) and at most
    * topK triplets. */
  def query(kg: GraphRag, kind: String, q: String): Answer = {
    val k = config.topK
    def chunkRows(df: DataFrame): Seq[String] =
      df.select(col("chunkId"), col("score")).collect().map(r => s"${r.get(0)}|${r.get(1)}").toSeq
    def tripletRows(df: Option[DataFrame]): Seq[String] =
      df.map(_.collect().map(_.mkString("|")).toSeq).getOrElse(Nil)
    kind match {
      case "default" =>
        val r = kg.query(q)
        val c = chunkRows(r.chunks); val t = tripletRows(r.triplets)
        Answer(c ++ t, c.size <= k && t.size <= k)
      case "ann" =>
        val c = chunkRows(kg.query(q, vectorMode = "ann", includeTriplets = false).chunks)
        Answer(c, c.size <= k)
      case "bm25" =>
        val c = chunkRows(kg.query(q, ranking = "bm25", includeTriplets = false).chunks)
        Answer(c, c.size <= k)
      case "context" =>
        val df = kg.query(q, withContext = true, includeTriplets = false).chunks
        val rows = df.select(col("chunkId"), col("score"), col("is_match")).collect()
        val matches = rows.count(_.getBoolean(2))
        Answer(rows.map(_.mkString("|")).toSeq,
          matches <= k && rows.length <= k * (2 * config.contextSize + 1))
      case "triplets" =>
        val t = tripletRows(kg.query(q).triplets)
        Answer(t, t.size <= k)
    }
  }

  /** One round of the mix: ten queries in the exact kind shares, in a
    * seeded order. Whole rounds keep a run's median independent of how a
    * short random draw happened to fall. */
  def round(rnd: Random): Seq[String] =
    rnd.shuffle(Kinds.flatMap { case (k, w) => Seq.fill(w / 10)(k) })

  /** Query strings drawn from the corpus' fact sentences, so their
    * frequency follows the corpus' hub-entity skew and includes the
    * alias surface variants. */
  def queryPool(rows: Seq[CorpusRow]): Vector[String] =
    rows.flatMap(r => facts(r.content)).flatMap { case (a, _, b) => Seq(a, b) }.toVector

  // ------------------------------------------------------------- base store

  def buildBase(dir: String): Int = {
    val root = new File(dir)
    deleteTree(root)
    val spark = session(new File(root, "spark-local").getAbsolutePath)
    import spark.implicits._
    val gen = CorpusGen.generate(BaseRepos, BaseFiles, BaseSeed)
    spark.createDataset(gen.rows).write.parquet(s"$dir/corpus")
    val tracer = new Tracer(spark)
    val io = new TracingTableIO(new ParquetTableIO(s"$dir/store"), tracer)
    val kg = new GraphRag(spark, io, config)
    val t0 = System.nanoTime()
    tracer.span("op", "bulk_ingest") {
      kg.ingest(spark.read.parquet(s"$dir/corpus").as[CorpusRow])
    }
    val secs = (System.nanoTime() - t0) / 1e9
    // the fresh fast path writes canonical_edges with one merge; the
    // compaction routes rewrite it (overwrite / overwritePartitions)
    val canon = tracer.spans.filter(s => s.kind == "io" &&
      s.attrs("table") == "canonical_edges" && IoWriteOps.contains(s.attrs("op")))
      .map(_.attrs("op")).toSet
    val fresh = canon == Set("merge")
    val parsed = truth(gen.rows)
    val got = storeTriples(spark, io)
    val pr = got == gen.truth
    println(s"[kgbench] base store: ${gen.rows.size} docs in ${"%.1f".format(secs)} s; " +
      s"fresh route: $fresh (canonical_edges ops $canon); " +
      s"triples P=R=1: $pr; template truth agrees: ${parsed == gen.truth}")
    deleteTree(new File(root, "spark-local"))
    if (fresh && pr && parsed == gen.truth) {
      Files.writeString(Paths.get(dir, "OK"),
        s"""{"docs":${gen.rows.size},"input_bytes":${inputBytes(gen.rows)},"build_s":$secs}""")
      0
    } else 1
  }

  // -------------------------------------------------------------- workloads

  /** One measured operation: wall time, and CPU time of the whole process
    * (driver, tasks, JIT and GC threads) while it ran. */
  final case class Op(kind: String, name: String, seconds: Double, cpuSeconds: Double,
      span: Option[Span])

  def run(opts: Map[String, String]): Int = {
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts.getOrElse("trace", "0") == "1"
    val base = new File(opts("base"))
    val work = new File(opts("work"))
    require(Set("trickle_ingest", "query_mix").contains(workload), s"unknown workload $workload")
    require(new File(base, "OK").exists, s"no base store at $base")
    val loadStart = Files.readString(Paths.get("/proc/loadavg")).trim

    val spark = session(new File(work, "spark-local").getAbsolutePath)
    import spark.implicits._
    val tracer = if (traced) Some(new Tracer(spark)) else None
    val embedder = if (traced) new CountingEmbedder(new HashEmbedder()) else new HashEmbedder()
    val extractor =
      if (traced) new CountingExtractor(new RuleSVOExtractor()) else new RuleSVOExtractor()
    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    def op[T](kind: String, name: String, attrs: (String, Any)*)(f: => T): (T, Op) = {
      val t0 = System.nanoTime()
      val c0 = os.getProcessCpuTime
      var sp: Option[Span] = None
      val out = tracer match {
        case Some(t) => t.span("op", name, ("kind" -> kind) +: attrs: _*) {
          sp = t.current; f }
        case None => f
      }
      // a traced op ends before the tracer drains the listener bus
      val wall = sp.map(_.seconds).getOrElse((System.nanoTime() - t0) / 1e9)
      (out, Op(kind, name, wall, (os.getProcessCpuTime - c0) / 1e9, sp))
    }

    // set-up: the run's own copy of the base store, the batch inputs
    val storeDir = new File(work, "store")
    copyTree(new File(base, "store").toPath, storeDir.toPath)
    val plain = new ParquetTableIO(storeDir.getAbsolutePath)
    val io: GraphTableIO = tracer.map(t => new TracingTableIO(plain, t)).getOrElse(plain)
    val kg = new GraphRag(spark, io, config, embedder, extractor)
    val rnd = new Random(seed)
    val base0 = baseRows
    val pool = queryPool(base0)
    var ingested: Seq[CorpusRow] = base0
    // the seed's batch, written to parquet so it is read as a table scan
    val batch = if (workload != "trickle_ingest") None else {
      val rows = batchRows(spark, seed)
      val path = new File(work, "batch0").getAbsolutePath
      spark.createDataset(rows).write.parquet(path)
      Some((rows, spark.read.parquet(path).as[CorpusRow]))
    }
    val answers = mutable.LinkedHashMap.empty[(String, String), Seq[String]]
    var attempted = 0
    var failed = 0
    def check(ok: Boolean, what: String): Unit = {
      attempted += 1
      if (!ok) { failed += 1; System.err.println(s"[kgbench] check failed: $what") }
    }
    def ask(kind: String, q: String, label: String): Op = {
      val (a, o) = op("query", label, "query_kind" -> kind, "q" -> q) {
        try query(kg, kind, q) catch { case e: Exception => e.printStackTrace(); null }
      }
      attempted += 1
      if (a == null || !a.ok) { failed += 1; System.err.println(s"[kgbench] query failed: $kind '$q'") }
      if (a != null) {
        o.span.foreach(_.attrs("rows") = a.rows.size)
        answers.get((kind, q)) match {
          case Some(prev) => check(prev.sorted == a.rows.sorted, s"repeat of $kind '$q' differs")
          case None => answers((kind, q)) = a.rows
        }
      }
      o.copy(kind = kind)
    }
    if (workload == "query_mix") { // warm-up: one round of the mix
      val wr = new Random(seed ^ 0x5DEECE66DL)
      round(wr).foreach(kind => query(kg, kind, pool(wr.nextInt(pool.size))))
    }
    val gcBefore = gcMs()
    heapPools.foreach(_.resetPeakUsage())
    Counters.reset()
    val runtime = ManagementFactory.getRuntimeMXBean
    val setupS = (System.currentTimeMillis() - runtime.getStartTime) / 1000.0
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9

    // measured window
    val primary = mutable.ArrayBuffer.empty[Op]
    val queries = mutable.ArrayBuffer.empty[Op]
    val filesWritten = mutable.ArrayBuffer.empty[Int]
    var batchInput = 0L
    if (workload == "trickle_ingest") {
      // one batch, however long the window: a second batch would run on a
      // warmer JVM, so a faster program would also change the mix it is
      // measured on
      val (rows, ds) = batch.get
      val before = if (traced) dataFiles(storeDir) else Set.empty[String]
      val (okB, o) = op("batch", "batch0") {
        try { kg.ingest(ds); true } catch { case e: Exception => e.printStackTrace(); false }
      }
      attempted += 1
      if (!okB) failed += 1
      primary += o
      if (traced) filesWritten += (dataFiles(storeDir) -- before).size
      ingested ++= rows
      batchInput += inputBytes(rows)
      // one query (the CLI default) on the now-cold facade, about the batch
      val bpool = queryPool(rows)
      queries += ask("default", bpool(rnd.nextInt(bpool.size)), "query")
    } else {
      while (queries.isEmpty || elapsed < seconds) round(rnd).foreach { kind =>
        val o = ask(kind, pool(rnd.nextInt(pool.size)), "query")
        queries += o
        primary += o
      }
    }
    val windowS = elapsed

    // output checks
    answers.headOption.foreach { case ((kind, q), _) => ask(kind, q, "check:repeat") }
    check(storeTriples(spark, io) == truth(ingested), "edges triple set P = R = 1.0")
    if (workload == "trickle_ingest")
      check(canonicalInvariant(spark, io),
        "canonical_edges == Materialize.canonicalEdges(edges, canonical_map)")
    val storeBytes = dirBytes(storeDir)

    val e2e = Seq(
      ("setup_s", setupS, "s"),
      ("op_p50_s", median(primary.map(_.seconds)), "s"),
      ("op_cpu_p50_s", median(primary.map(_.cpuSeconds)), "s"),
      ("query_p50_s", median(queries.map(_.seconds)), "s"),
      ("store_bytes_per_input_byte", storeBytes.toDouble / inputBytes(ingested), "ratio"))

    val layer = tracer.map { t =>
      if (workload == "trickle_ingest") primary.foreach { o =>
        val ops = t.within(o.span.get).filter(_.kind == "io").map(_.attrs("op"))
        check(ops.contains("overwritePartitions"),
          s"${o.name} took the delta route (overwritePartitions)")
      }
      val stageDocs =
        if (workload == "trickle_ingest") batch.get._1
        else rnd.shuffle(base0).take(BatchDocs)
      val stageRows = stagePass(spark, t, stageDocs, embedder, extractor)
      val batchDocs = ingested.drop(base0.size)
      val layerMetrics = perLayer(t, primary.toSeq, queries.toSeq, stageRows,
        chunks(batchDocs), sentences(batchDocs ++ stageDocs),
        filesWritten.toSeq, batchInput, gcMs() - gcBefore)
      check(t.maxSumErrorS < 1e-3, "per-op self times add up to wall time")
      writeTrace(t, opts("trace-out"), t0)
      layerMetrics
    }

    val calibration = calibrate(work)
    val ctx = Map(
      "workload" -> workload, "seed" -> seed, "traced" -> traced,
      "nproc" -> nproc, "loadavg_start" -> loadStart,
      "loadavg_end" -> Files.readString(Paths.get("/proc/loadavg")).trim,
      "calibration_md5_2m_s" -> calibration._1,
      "calibration_file_200mb_rw_s" -> calibration._2,
      "window_s" -> windowS, "ops" -> primary.size, "queries" -> queries.size,
      "store_bytes" -> storeBytes,
      "e2e" -> e2e.map { case (n, v, _) => n -> v }.toMap)
    println(s"""{"context":${Json.value(ctx)}}""")

    val metrics = layer.getOrElse(e2e).map { case (n, v, u) =>
      s"""${Json.str(n)}:{"value":${Json.value(v)},"unit":${Json.str(u)}}"""
    }.mkString("{", ",", "}")
    println(s"""{"correct":${failed == 0},"attempted":$attempted,"failed":$failed,"metrics":$metrics}""")
    if (failed == 0) 0 else 1
  }

  // ------------------------------------------------------------ stage pass

  /** Direct calls of each pipeline stage on `docs`, each forced by a
    * `noop` write with its inputs already cached, so each `stage` span
    * holds that stage's own work. Returns rows per stage. */
  def stagePass(spark: SparkSession, t: Tracer, docs: Seq[CorpusRow],
      embedder: graft.kg.embed.Embedder,
      extractor: graft.kg.extract.TripletExtractor): Map[String, Long] = {
    import spark.implicits._
    val cached = mutable.ArrayBuffer.empty[Dataset[_]]
    val rows = mutable.LinkedHashMap.empty[String, Long]
    def stage[T](name: String)(ds: => Dataset[T]): Dataset[T] = {
      val d = ds.persist()
      cached += d
      t.span("stage", name)(d.write.format("noop").mode("overwrite").save())
      rows(name) = d.count()
      d
    }
    t.span("op", "stage_pass", "kind" -> "stage_pass") {
      val corpus = spark.createDataset(docs)
      val chunks = stage("chunks")(Ingest.chunks(Ingest.docs(corpus), config.maxTokensPerChunk))
      stage("embeddings")(Ingest.chunkEmbeddings(chunks, embedder))
      stage("terms")(Terms.terms(chunks, config.removeStopwords))
      val triples = stage("triples")(Triples.triples(chunks, extractor))
      var mentions: DataFrame = null
      var mentionVecs: DataFrame = null
      val aliases = stage("link") {
        mentions = Link.mentions(triples).persist()
        mentionVecs = Link.mentionEmbeddings(mentions, embedder).persist()
        cached += mentions; cached += mentionVecs
        Link.lshAliases(mentionVecs, config.linkThreshold, config.linkTopK,
          maxBucket = config.lshMaxBucket)
      }
      val canonical = stage("canonicalize")(Canonicalize.canonicalMap(mentions, aliases))
      stage("edges")(Materialize.edges(triples))
      stage("vertices")(Materialize.vertices(triples, mentionVecs, canonical))
    }
    cached.foreach(_.unpersist(blocking = true))
    rows.toMap
  }

  // ------------------------------------------------------- per-layer metrics

  def perLayer(t: Tracer, primary: Seq[Op], queries: Seq[Op],
      stageRows: Map[String, Long], chunksIngested: Long, sentencesSeen: Long,
      filesWritten: Seq[Int], batchInput: Long, gcMsDelta: Long): Seq[(String, Double, String)] = {
    val out = mutable.ArrayBuffer.empty[(String, Double, String)]
    def m(name: String, v: Double, unit: String): Unit = out += ((name, v, unit))
    val n = primary.size.max(1).toDouble
    val pSpans = primary.flatMap(o => t.within(o.span.get))
    val pJobs = pSpans.filter(_.kind == "job")
    def sumL(ss: Seq[Span], k: String) = ss.map(_.attrs(k).asInstanceOf[Long]).sum
    def self(ss: Seq[Span]) = ss.map(t.selfNs).sum / 1e9
    val wall = primary.map(_.seconds).sum

    // pipeline
    m("pipeline.jobs", pJobs.size / n, "count")
    m("pipeline.driver_gap_s", primary.map(o => t.gapNs(o.span.get)).sum / 1e9 / n, "s")
    val busy = sumL(pJobs, "taskRunMs") / 1000.0
    m("pipeline.task_busy_s", busy / n, "s")
    m("pipeline.core_util", if (wall > 0) busy / (wall * nproc) else 0.0, "frac")
    m("pipeline.shuffle_mb", sumL(pJobs, "shuffleWritten") / 1e6 / n, "MB")
    Tracer.AllSites.foreach { s =>
      val js = pJobs.filter(_.attrs("site") == s)
      m(s"pipeline.jobs.$s", js.size / n, "count")
      m(s"pipeline.job_s.$s", self(js) / n, "s")
    }

    // io: calls and wall per op; bytes from the jobs under each call
    val io = pSpans.filter(_.kind == "io")
    IoCallOps.foreach(o => m(s"io.calls.$o", io.count(_.attrs("op") == o) / n, "count"))
    IoWriteOps.foreach(o => m(s"io.s.$o", io.filter(_.attrs("op") == o).map(_.seconds).sum / n, "s"))
    m("io.read_mb", sumL(pJobs, "bytesRead") / 1e6 / n, "MB")
    val written = sumL(pJobs, "bytesWritten")
    m("io.write_mb", written / 1e6 / n, "MB")
    m("io.files_written", filesWritten.sum / n, "count")
    val byId = t.spans.map(s => s.id -> s).toMap
    def ioTable(s: Span): Option[String] =
      byId.get(s.parent).flatMap(p => if (p.kind == "io") Some(p.attrs("table").toString) else ioTable(p))
    Tables.foreach { tb =>
      m(s"io.write_mb.$tb", sumL(pJobs.filter(j => ioTable(j).contains(tb)), "bytesWritten") / 1e6 / n, "MB")
    }
    m("io.batch_write_bytes_per_input_byte",
      if (batchInput > 0) written.toDouble / batchInput else 0.0, "ratio")

    // stages (the direct stage pass)
    val stageSpans = t.spans.filter(_.kind == "stage")
    StageNames.foreach { s =>
      m(s"stages.${s}_s", stageSpans.filter(_.name == s).map(_.seconds).sum, "s")
      m(s"stages.rows.$s", stageRows.getOrElse(s, 0L).toDouble, "count")
    }

    // embedder and extractor over the window and the stage pass
    val chunksSeen = chunksIngested + stageRows.getOrElse("chunks", 0L)
    m("embed.calls.passage", Counters.passage.sum.toDouble, "count")
    m("embed.calls.mention", Counters.mention.sum.toDouble, "count")
    m("embed.calls.query", Counters.query.sum.toDouble, "count")
    m("embed.busy_s", Counters.embedNs.sum / 1e9, "s")
    m("embed.calls_per_chunk",
      if (chunksSeen > 0) Counters.passage.sum.toDouble / chunksSeen else 0.0, "ratio")
    val calls = Counters.extractCalls.sum
    m("extract.calls", calls.toDouble, "count")
    m("extract.busy_s", Counters.extractNs.sum / 1e9, "s")
    m("extract.calls_per_sentence",
      if (sentencesSeen > 0) calls.toDouble / sentencesSeen else 0.0, "ratio")
    m("extract.yield", if (calls > 0) Counters.extractTriples.sum.toDouble / calls else 0.0, "ratio")

    // retrieval, per query kind
    Kinds.map(_._1).foreach { k =>
      val qs = queries.filter(_.kind == k).map(_.span.get)
      val js = qs.flatMap(t.within).filter(_.kind == "job")
      val q = qs.size.max(1).toDouble
      val results = qs.map(_.attrs.getOrElse("rows", 0).asInstanceOf[Int]).sum
      m(s"retrieve.$k.p50_s", median(qs.map(_.seconds)), "s")
      m(s"retrieve.$k.jobs", js.size / q, "count")
      m(s"retrieve.$k.driver_gap_s", qs.map(t.gapNs).sum / 1e9 / q, "s")
      m(s"retrieve.$k.rows_scanned_per_result",
        if (results > 0) sumL(js, "recordsRead").toDouble / results else 0.0, "ratio")
    }
    val opens = queries.map(o => t.within(o.span.get).filter(_.kind == "io").map(_.seconds).sum)
      .filter(_ > 0)
    m("retrieve.cold_open_s", median(opens), "s")

    // jvm
    m("jvm.gc_s", gcMsDelta / 1000.0, "s")
    m("jvm.heap_peak_mb", heapPools.map(_.getPeakUsage.getUsed).sum / 1e6, "MB")
    m("jvm.rss_peak_mb", peakRssMb(), "MB")
    out.toSeq
  }

  def writeTrace(t: Tracer, path: String, origin: Long): Unit = {
    val f = new File(path)
    f.getParentFile.mkdirs()
    Files.write(f.toPath, t.toJson(origin).asJava)
  }

  // ------------------------------------------------------------------ misc

  def median(xs: collection.Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala.toSeq
    .filter(_.getType == java.lang.management.MemoryType.HEAP)

  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime.max(0L)).sum

  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  /** The repo's VM calibration pair: 2M MD5 digests and a 200 MB buffered
    * file write+read, one of each (context, not a metric). */
  def calibrate(dir: File): (Double, Double) = {
    val md = java.security.MessageDigest.getInstance("MD5")
    var sink = 0L
    val c0 = System.nanoTime()
    var i = 0
    while (i < 2000000) {
      sink ^= md.digest(java.nio.ByteBuffer.allocate(8).putLong(i.toLong).array())(0)
      i += 1
    }
    val cpu = (System.nanoTime() - c0) / 1e9
    val f = new File(dir, "calibration.bin").toPath
    val buf = new Array[Byte](1 << 20)
    java.util.Arrays.fill(buf, 0x5a.toByte)
    val f0 = System.nanoTime()
    val out = Files.newOutputStream(f)
    try (0 until 200).foreach(_ => out.write(buf)) finally out.close()
    val in = Files.newInputStream(f)
    try { var n = 0; while ({ n = in.read(buf); n > 0 }) sink ^= buf(0) } finally in.close()
    val rw = (System.nanoTime() - f0) / 1e9
    Files.delete(f)
    if (sink == Long.MinValue) System.err.println()
    (cpu, rw)
  }
}
