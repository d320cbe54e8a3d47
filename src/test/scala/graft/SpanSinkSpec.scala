package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.engine.{SpanSink, WriteLimitReached}

/** `SpanSink.chars` stops scanning a clean run one char past the write
  * budget. This checks it against the unbounded scan it replaced, kept
  * here as the reference: over seeded strings with control chars and
  * budgets of 0, 1, small and `Int.MaxValue`, both keep the same text
  * and char count and throw at the same call.
  */
class SpanSinkSpec extends AnyFunSuite {

  /** The earlier `chars`: scans each clean run to its end, then appends
    * what fits. `text` is the sink's flushed and pending chars together.
    */
  private final class ReferenceSink(writeLimit: Int) {
    val text = new java.lang.StringBuilder
    var limitReached = false
    def chars(s: String): Unit = {
      if (limitReached) return
      var i = 0
      val n = s.length
      while (i < n) {
        var j = i
        while (j < n && {
          val c = s.charAt(j); c >= ' ' || c == '\t' || c == '\n' || c == '\r'
        }) j += 1
        if (j > i) {
          val room = writeLimit - text.length
          if (j - i <= room) text.append(s, i, j)
          else {
            if (room > 0) text.append(s, i, i + room)
            limitReached = true
            throw new WriteLimitReached
          }
        }
        i = j + 1
      }
    }
  }

  private val kept = "abc xyz\t\n\ré中"
  private val filtered = "\u0000\u0001\u0007\u001b\u001f"

  private def randomString(r: scala.util.Random): String = {
    val n = r.nextInt(4) match {
      case 0 => 0
      case 1 => r.nextInt(5)
      case 2 => r.nextInt(200)
      case _ => r.nextInt(3000)
    }
    // mostly clean runs, with a control char now and then
    val sb = new StringBuilder
    while (sb.length < n)
      sb.append(if (r.nextInt(20) == 0) filtered(r.nextInt(filtered.length))
        else kept(r.nextInt(kept.length)))
    sb.toString
  }

  private def thrown(f: => Unit): Option[Class[_]] =
    try { f; None } catch { case e: Exception => Some(e.getClass) }

  test("the bounded scan keeps the unbounded scan's text, char count and throw point") {
    for (budget <- Seq(0, 1, 7, 64, 5000, Int.MaxValue); seed <- 1 to 40) {
      val r = new scala.util.Random(seed * 31L + budget)
      val sink = new SpanSink(writeLimit = budget)
      val ref = new ReferenceSink(budget)
      for (call <- 0 until 30) {
        val s = randomString(r)
        val newline = r.nextInt(6) == 0 // newline() also flushes the span
        val got = thrown(if (newline) sink.newline() else sink.chars(s))
        val want = thrown(if (newline) { if (!ref.limitReached) ref.chars("\n") }
          else ref.chars(s))
        val at = s"budget $budget seed $seed call $call"
        assert(got == want, at)
        assert(sink.limitReached == ref.limitReached, at)
        assert(sink.charCount == ref.text.length, at)
      }
      assert(sink.result().map(_.text).mkString == ref.text.toString, s"budget $budget seed $seed")
    }
  }

  test("a bomb-sized clean string fills the budget exactly and trips the limit") {
    val sink = new SpanSink(writeLimit = 100000)
    assert(thrown(sink.chars("x" * 2097152)) == Some(classOf[WriteLimitReached]))
    assert(sink.charCount == 100000)
  }
}
