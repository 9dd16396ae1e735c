package kgbench

import org.apache.spark.kgbench.BusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

import scala.collection.mutable

/** One recorded interval on the driver's monotonic clock. `kind` is one
  * of `op` (a batch, a query, the stage pass), `io` (one GraphTableIO
  * call), `stage` (one direct stage call) or `job` (a Spark job). `opId`
  * is the id of the root `op` span the interval belongs to. */
final class Span(val id: Int, val parent: Int, val opId: Int,
    val kind: String, val name: String, val startNs: Long) {
  var endNs: Long = -1L
  val attrs = mutable.LinkedHashMap.empty[String, Any]
  def seconds: Double = (endNs - startNs) / 1e9
}

/** What the listener learns about one Spark job. */
final class JobRec(val jobId: Int, val startMs: Long, val spanId: Int,
    val execId: Long, val stageDetails: String) {
  var endMs: Long = -1L
  var ok = true
  var taskRunMs = 0L
  var bytesRead = 0L
  var recordsRead = 0L
  var bytesWritten = 0L
  var shuffleWritten = 0L
}

/** Span recorder plus a SparkListener. Spans are kept in memory and
  * written out once, at exit. Jobs are attributed to the innermost open
  * span of the client thread through a local property (which Spark copies
  * onto the threads it runs broadcasts and subqueries on), and to a
  * module through the first `graft.` frame of their SQL execution's call
  * site. */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val PropKey = "kgbench.span"
  // epoch-ms (listener events) → the nanoTime clock the spans use
  private val offsetNs = System.nanoTime() - System.currentTimeMillis() * 1000000L

  val spans = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.ArrayBuffer.empty[Span]
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageToJob = mutable.HashMap.empty[Int, JobRec]
  private val execDetails = mutable.HashMap.empty[Long, String]

  sc.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val p = Option(e.properties)
      def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
      val span = prop(PropKey).map(_.toInt).getOrElse(-1)
      val exec = prop("spark.sql.execution.root.id")
        .orElse(prop("spark.sql.execution.id")).map(_.toLong).getOrElse(-1L)
      val j = new JobRec(e.jobId, e.time, span, exec,
        e.stageInfos.headOption.map(_.details).getOrElse(""))
      jobs(e.jobId) = j
      e.stageIds.foreach(s => stageToJob(s) = j)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobs.get(e.jobId).foreach { j =>
        j.endMs = e.time
        j.ok = e.jobResult == JobSucceeded
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val m = e.taskMetrics
      if (m != null) stageToJob.get(e.stageId).foreach { j =>
        j.taskRunMs += m.executorRunTime
        j.bytesRead += m.inputMetrics.bytesRead
        j.recordsRead += m.inputMetrics.recordsRead
        j.bytesWritten += m.outputMetrics.bytesWritten
        j.shuffleWritten += m.shuffleWriteMetrics.bytesWritten
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => Tracer.this.synchronized {
        execDetails(s.executionId) = s.details
      }
      case _ =>
    }
  })

  /** Record `f` as a span, child of the innermost open span. */
  def span[T](kind: String, name: String, attrs: (String, Any)*)(f: => T): T = {
    val parent = open.lastOption
    val id = spans.size
    val s = new Span(id, parent.map(_.id).getOrElse(-1),
      parent.map(_.opId).getOrElse(id), kind, name, System.nanoTime())
    s.attrs ++= attrs
    spans += s
    open += s
    sc.setLocalProperty(PropKey, id.toString)
    try f
    finally {
      s.endNs = System.nanoTime()
      open.remove(open.size - 1)
      sc.setLocalProperty(PropKey, parent.map(_.id.toString).orNull)
      if (kind == "op") BusDrain(sc)
    }
  }

  /** The innermost open span. */
  def current: Option[Span] = open.lastOption

  private def toNs(ms: Long): Long = ms * 1000000L + offsetNs

  /** Module of a job: the file of the first `graft.` frame of the call
    * site of its SQL execution (or, for a plain RDD job, of its first
    * stage). Stage names are not used: under AQE most jobs name
    * `CompletableFuture.java` there. */
  private val Frame = """^\s*(?:at\s+)?graft\.[\w.$]+\((\w+)\.scala:\d+\)""".r.unanchored
  def site(j: JobRec): String = {
    val details = execDetails.getOrElse(j.execId, j.stageDetails)
    details.linesIterator.collectFirst { case Frame(file) => file } match {
      case Some(f) if Tracer.Sites.contains(f) => f
      case _ => "other"
    }
  }

  /** Job spans, built once every op has ended: each job becomes a `job`
    * child of the span it was submitted under (or of the op whose
    * interval holds its start), clipped to that parent. */
  lazy val jobSpans: Seq[Span] = synchronized {
    val ops = spans.filter(_.kind == "op")
    jobs.values.toSeq.sortBy(_.startMs).flatMap { j =>
      val parent =
        if (j.spanId >= 0 && j.spanId < spans.size) Some(spans(j.spanId))
        else ops.find(o => toNs(j.startMs) >= o.startNs && toNs(j.startMs) <= o.endNs)
      parent.map { p =>
        val start = math.min(math.max(toNs(j.startMs), p.startNs), p.endNs)
        val end = math.min(math.max(toNs(math.max(j.endMs, j.startMs)), start), p.endNs)
        val s = new Span(-1, p.id, p.opId, "job", s"job${j.jobId}", start)
        s.endNs = end
        s.attrs ++= Seq("site" -> site(j), "ok" -> j.ok, "taskRunMs" -> j.taskRunMs,
          "bytesRead" -> j.bytesRead, "recordsRead" -> j.recordsRead,
          "bytesWritten" -> j.bytesWritten, "shuffleWritten" -> j.shuffleWritten)
        s
      }
    }
  }

  private lazy val children: Map[Int, Seq[Span]] =
    (spans.filter(_.parent >= 0) ++ jobSpans).groupBy(_.parent).map {
      case (k, v) => k -> v.toSeq
    }

  /** Self time of every span: its duration minus the part of it that its
    * children cover. Overlapping sibling jobs share time first-come, so
    * the self times of one op's spans and jobs add up to the op's wall
    * time exactly. Keyed by span object identity. */
  lazy val selfNs: Map[Span, Long] = {
    val out = mutable.HashMap.empty[Span, Long]
    def visit(s: Span): Unit = {
      val kids = children.getOrElse(s.id, Nil).sortBy(_.startNs)
      var cursor = s.startNs
      var covered = 0L
      kids.foreach { k =>
        val a = math.max(k.startNs, cursor)
        val b = math.min(math.max(k.endNs, a), s.endNs)
        if (k.kind == "job") out(k) = math.max(b - a, 0L)
        covered += math.max(b - a, 0L)
        cursor = math.max(cursor, b)
        if (k.kind != "job") visit(k)
      }
      out(s) = s.endNs - s.startNs - covered
    }
    spans.filter(_.kind == "op").foreach(visit)
    out.toMap
  }

  /** Spans of one op (the op itself, its io/stage spans and its jobs). */
  def within(op: Span): Seq[Span] =
    (spans.filter(_.opId == op.id) ++ jobSpans.filter(_.opId == op.id)).toSeq

  /** Driver gap of an op: its wall time with no job of it running. */
  def gapNs(op: Span): Long = within(op).filter(_.kind != "job").map(selfNs).sum

  /** The largest |wall − (Σ job self time + driver gap)| over all ops. */
  def maxSumErrorS: Double =
    spans.filter(_.kind == "op").map { op =>
      val jobSelf = within(op).filter(_.kind == "job").map(selfNs).sum
      math.abs((op.endNs - op.startNs) - (jobSelf + gapNs(op))) / 1e9
    }.maxOption.getOrElse(0.0)

  /** All spans as JSON lines objects, for the trace file. */
  def toJson(origin: Long): Seq[String] = (spans ++ jobSpans).map { s =>
    val a = s.attrs.map { case (k, v) => s""""$k":${Json.value(v)}""" }.mkString(",")
    s"""{"id":${s.id},"parent":${s.parent},"op":${s.opId},"kind":"${s.kind}",""" +
      s""""name":${Json.str(s.name)},"start_s":${(s.startNs - origin) / 1e9},""" +
      s""""end_s":${(s.endNs - origin) / 1e9},"self_s":${selfNs.getOrElse(s, 0L) / 1e9}""" +
      (if (a.isEmpty) "}" else s""","attrs":{$a}}""")
  }.toSeq
}

object Tracer {
  val Sites = Seq("GraphTableIO", "Canonicalize", "Link", "VectorIndex",
    "Pipeline", "Retrieval")
  val AllSites = Sites :+ "other"
}

/** Minimal JSON rendering for the result and trace lines. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def value(v: Any): String = v match {
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => s"${str(k.toString)}:${value(x)}" }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case null => "null"
    case other => str(other.toString)
  }
}
