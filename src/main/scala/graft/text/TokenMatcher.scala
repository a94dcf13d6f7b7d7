package graft.text

/** Single-pass multi-token substring matcher (Aho–Corasick).
  *
  * The reference tests ~700 tokens per snippet with one `token in snippet`
  * scan each (`/root/reference/features.py:96-103`,
  * `/root/reference/web/predict.js:4`). At 100 TB that is 700 passes over
  * every string; this automaton does one pass per snippet and sets a
  * presence bit per token. Built once on the driver and broadcast; match()
  * is allocation-light (one boolean array per row).
  *
  * Serializable so it can travel inside a Spark broadcast.
  */
final class TokenMatcher private (
    val tokens: Array[String],
    // flattened automaton
    private val goto_ : Array[java.util.HashMap[Character, Integer]],
    private val fail: Array[Int],
    // outputs(state) = token indices ending at this state (usually 0-1 entries)
    private val outputs: Array[Array[Int]],
) extends Serializable {

  /** Presence bit per token, single pass over `text`. */
  def matchBits(text: String): Array[Boolean] = {
    val bits = new Array[Boolean](tokens.length)
    if (text == null) return bits
    var state = 0
    var i = 0
    val n = text.length
    var remaining = tokens.length
    while (i < n && remaining > 0) {
      val c = Character.valueOf(text.charAt(i))
      var next = goto_(state).get(c)
      while (next == null && state != 0) {
        state = fail(state)
        next = goto_(state).get(c)
      }
      state = if (next == null) 0 else next.intValue()
      val out = outputs(state)
      var j = 0
      while (j < out.length) {
        if (!bits(out(j))) { bits(out(j)) = true; remaining -= 1 }
        j += 1
      }
      i += 1
    }
    bits
  }

  /** Word-boundary variant: token present AND at least one occurrence not
    * flanked by [A-Za-z0-9_]. Matches the reference's `hasWordIn` semantics
    * (`/root/reference/js/predict_language.js:9-29`).
    */
  def matchWordBits(text: String): Array[Boolean] = {
    val bits = new Array[Boolean](tokens.length)
    if (text == null) return bits
    var state = 0
    var i = 0
    val n = text.length
    while (i < n) {
      val c = Character.valueOf(text.charAt(i))
      var next = goto_(state).get(c)
      while (next == null && state != 0) {
        state = fail(state)
        next = goto_(state).get(c)
      }
      state = if (next == null) 0 else next.intValue()
      val out = outputs(state)
      var j = 0
      while (j < out.length) {
        val t = out(j)
        if (!bits(t)) {
          val start = i + 1 - tokens(t).length
          val beforeOk = start == 0 || !TokenMatcher.isWordChar(text.charAt(start - 1))
          val afterOk = i + 1 == n || !TokenMatcher.isWordChar(text.charAt(i + 1))
          if (beforeOk && afterOk) bits(t) = true
        }
        j += 1
      }
      i += 1
    }
    bits
  }
}

object TokenMatcher {

  @inline def isWordChar(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') || (c >= '0' && c <= '9') || c == '_'

  /** Build the automaton (driver-side; broadcast the result). */
  def apply(tokens: Array[String]): TokenMatcher = {
    require(tokens.forall(t => t != null && t.nonEmpty), "empty tokens not supported")
    val gotoMaps = scala.collection.mutable.ArrayBuffer(
      new java.util.HashMap[Character, Integer]())
    val outBuf = scala.collection.mutable.ArrayBuffer(List.empty[Int])

    // trie
    tokens.zipWithIndex.foreach { case (tok, ti) =>
      var state = 0
      var i = 0
      while (i < tok.length) {
        val c = Character.valueOf(tok.charAt(i))
        val nxt = gotoMaps(state).get(c)
        if (nxt == null) {
          gotoMaps += new java.util.HashMap[Character, Integer]()
          outBuf += List.empty[Int]
          gotoMaps(state).put(c, gotoMaps.length - 1)
          state = gotoMaps.length - 1
        } else state = nxt.intValue()
        i += 1
      }
      outBuf(state) = ti :: outBuf(state)
    }

    // BFS failure links
    val nStates = gotoMaps.length
    val fail = new Array[Int](nStates)
    val queue = scala.collection.mutable.Queue.empty[Int]
    gotoMaps(0).forEach((_, s) => { fail(s) = 0; queue.enqueue(s.intValue()) })
    while (queue.nonEmpty) {
      val r = queue.dequeue()
      gotoMaps(r).forEach { (c, s) =>
        queue.enqueue(s.intValue())
        var st = fail(r)
        var nxt = gotoMaps(st).get(c)
        while (nxt == null && st != 0) { st = fail(st); nxt = gotoMaps(st).get(c) }
        val f = if (nxt == null || nxt.intValue() == s.intValue()) 0 else nxt.intValue()
        fail(s) = f
        outBuf(s) = outBuf(s) ::: outBuf(f)
      }
    }

    new TokenMatcher(tokens, gotoMaps.toArray, fail, outBuf.map(_.toArray).toArray)
  }
}
