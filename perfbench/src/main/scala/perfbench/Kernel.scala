package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.{Callable, Executors}

import org.apache.spark.unsafe.types.UTF8String

import graft.core.{BodyElement, HtmlExtract, MultiDoc, Segmenter, Tokenizer}
import graft.functions.ExtractStats
import graft.pipeline.TurnExtractor

/** Per-layer timings of the extraction kernel on a fixed sample of turns,
  * without Spark. Every "per turn" figure divides by the whole sample, so
  * the stage figures add up to roughly the kernel figure.
  */
final class Kernel(sample: IndexedSeq[(String, Int, String)], tracer: Tracer) {
  private val n = sample.size
  private val texts = sample.map(_._3)
  private val isHtml = texts.map(HtmlExtract.looksLikeHtml)
  private val utf8 = texts.map(UTF8String.fromString)
  private val elements: IndexedSeq[Seq[BodyElement]] = texts.indices.map { i =>
    if (isHtml(i)) HtmlExtract.tokenize(texts(i)) else Tokenizer.tokenize(texts(i))
  }
  private val docs: IndexedSeq[MultiDoc] = elements.map(e => Segmenter.segment(e))
  private val threadBean =
    ManagementFactory.getThreadMXBean.asInstanceOf[com.sun.management.ThreadMXBean]
  // results flow here so the JIT cannot drop the measured calls
  @volatile var sink = 0L

  private def kernelOnce(): Unit = {
    var acc = 0L
    var i = 0
    while (i < n) {
      val (c, t, text) = sample(i)
      acc += TurnExtractor.extract(c, t, text).nBytes
      i += 1
    }
    sink += acc
  }

  private def statsOnce(): Unit = {
    var acc = 0L
    var i = 0
    while (i < n) { acc += ExtractStats.compute(utf8(i)).getLong(3); i += 1 }
    sink += acc
  }

  private def tokenizeOnce(html: Boolean): Unit = {
    var acc = 0L
    var i = 0
    while (i < n) {
      if (isHtml(i) == html) {
        acc += (if (html) HtmlExtract.tokenize(texts(i)) else Tokenizer.tokenize(texts(i))).size
      }
      i += 1
    }
    sink += acc
  }

  private def segmentOnce(): Unit = {
    var acc = 0L
    var i = 0
    while (i < n) { acc += Segmenter.segment(elements(i)).documents.size; i += 1 }
    sink += acc
  }

  private def extractedTextOnce(): Unit = {
    var acc = 0L
    var i = 0
    while (i < n) { acc += Segmenter.extractedText(docs(i)).length; i += 1 }
    sink += acc
  }

  /** Median ns per sample turn over `reps` timed repetitions. */
  private def nsPerTurn(name: String, reps: Int)(body: => Unit): Double =
    tracer.span(name, Map("turns" -> n, "reps" -> reps)) {
      Stats.median((1 to reps).map { _ =>
        val t0 = System.nanoTime()
        body
        (System.nanoTime() - t0).toDouble / n
      })
    }

  private def allocPerTurn(body: => Unit): Double = {
    val id = Thread.currentThread().getId
    val b0 = threadBean.getThreadAllocatedBytes(id)
    body
    (threadBean.getThreadAllocatedBytes(id) - b0).toDouble / n
  }

  /** Kernel turns per second on a plain `threads`-wide pool, no Spark:
    * each thread runs the whole sample, `reps` times.
    */
  private def poolTurnsPerS(threads: Int, reps: Int): Double =
    tracer.span("core.pool", Map("threads" -> threads)) {
      val pool = Executors.newFixedThreadPool(threads)
      try {
        val task: Callable[Long] = () => {
          var acc = 0L
          var i = 0
          while (i < n) {
            val (c, t, text) = sample(i)
            acc += TurnExtractor.extract(c, t, text).nBytes
            i += 1
          }
          acc
        }
        Stats.median((1 to reps).map { _ =>
          val t0 = System.nanoTime()
          val fs = (1 to threads).map(_ => pool.submit(task))
          fs.foreach(f => sink += f.get())
          threads.toDouble * n / ((System.nanoTime() - t0) / 1e9)
        })
      } finally pool.shutdownNow()
    }

  def measure(threads: Int): Map[String, Double] = {
    tracer.span("core.warmup") {
      (1 to 3).foreach { _ =>
        kernelOnce(); statsOnce(); tokenizeOnce(true); tokenizeOnce(false)
        segmentOnce(); extractedTextOnce()
      }
    }
    val reps = 5
    val m = Map(
      "core.kernel_ns_per_turn" -> nsPerTurn("core.kernel", reps)(kernelOnce()),
      "core.tokenize_ns_per_turn" ->
        nsPerTurn("core.tokenize", reps)(tokenizeOnce(false)),
      "core.html_tokenize_ns_per_turn" ->
        nsPerTurn("core.html_tokenize", reps)(tokenizeOnce(true)),
      "core.segment_ns_per_turn" -> nsPerTurn("core.segment", reps)(segmentOnce()),
      "core.extracted_text_ns_per_turn" ->
        nsPerTurn("core.extracted_text", reps)(extractedTextOnce()),
      "core.alloc_bytes_per_turn" -> allocPerTurn(kernelOnce()),
      "functions.extract_stats_ns_per_turn" ->
        nsPerTurn("functions.extract_stats", reps)(statsOnce()),
      "functions.extract_stats_alloc_bytes_per_turn" -> allocPerTurn(statsOnce()))
    m + ("core.pool_turns_per_s" -> poolTurnsPerS(threads, reps))
  }
}
