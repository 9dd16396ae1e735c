package kgbench

import graft.kg.embed.Embedder
import graft.kg.extract.TripletExtractor
import graft.kg.textspec.TripletParse

import java.util.concurrent.atomic.LongAdder

/** Process-wide call counters of the wrapped embedder and extractor.
  * The wrappers are serialized into tasks; in local mode the tasks run in
  * this JVM, so the counters here see every call. Busy time is summed
  * over the task threads. */
object Counters {
  val passage, mention, query, embedNs = new LongAdder
  val extractCalls, extractNs, extractTriples = new LongAdder
  def all: Seq[LongAdder] =
    Seq(passage, mention, query, embedNs, extractCalls, extractNs, extractTriples)
  def reset(): Unit = all.foreach(_.reset())
}

/** Counts embedder calls by purpose. Queries carry the `query: ` prefix;
  * chunk passages and entity mentions both use `passage: `, so those two
  * are told apart by the calling stage (a mention is embedded from
  * `Link`). */
final class CountingEmbedder(inner: Embedder) extends Embedder {
  def dim: Int = inner.dim
  def embed(text: String): Array[Float] = {
    val t0 = System.nanoTime()
    val v = inner.embed(text)
    Counters.embedNs.add(System.nanoTime() - t0)
    if (text.startsWith("query: ")) Counters.query.increment()
    else if (Thread.currentThread.getStackTrace.exists(
        _.getClassName.startsWith("graft.kg.stages.Link"))) Counters.mention.increment()
    else Counters.passage.increment()
    v
  }
}

/** Counts extractor calls (one per sentence) and the triples they yield. */
final class CountingExtractor(inner: TripletExtractor) extends TripletExtractor {
  def generate(sentence: String): String = {
    val t0 = System.nanoTime()
    val out = inner.generate(sentence)
    Counters.extractNs.add(System.nanoTime() - t0)
    Counters.extractCalls.increment()
    Counters.extractTriples.add(TripletParse.parse(out).size)
    out
  }
}
