package graft.core

/** The pinned, deterministic HTML → text extractor (SURVEY.md §8.4).
  *
  * This is THE byte-identical artifact of the engine (BASELINE.json input_hint:
  * "per-row invariant vs the reference: byte-identical extracted text per url").
  * The reference repo is unrecoverable (SURVEY.md §0.1), so this implementation +
  * its golden vectors (`TextExtractSpec`, `text_sha256.csv`) define the spec.
  *
  * The spec (order is normative):
  *  1. tags, in one scan of the input:
  *     - `<!-- … -->` comments dropped (unterminated → drop to end);
  *     - `<!…>` and `<?…>` (doctype, processing instructions) dropped;
  *     - `<script …>…</script>` and `<style …>…</style>` subtrees dropped
  *       (case-insensitive; self-closing `<script/>` drops nothing; unterminated
  *       → drop to end);
  *     - any other tag (open, close, or self-closing) whose name is in the block
  *       set {p, div, br, li, h1…h6, tr, title} emits '\n'; all other tags emit
  *       nothing; a '<' not starting a tag ('<' + non-letter, non-'/', non-'!')
  *       is literal text;
  *  2. entity decode of the tag-free text, exactly these: &amp; &lt; &gt; &quot;
  *     &#39; and &nbsp; (→ regular space); no re-decoding, and an entity split by
  *     a tag (`&am<b>p;`) decodes because tags are gone by then;
  *  3. whitespace: CR and CRLF are one newline each; a maximal run of space, tab,
  *     newline (and decoded &nbsp;) holding k ≥ 1 newlines becomes min(k, 2)
  *     '\n', a run holding none becomes one ' '; then `String.trim`.
  *
  * Two linear passes over one `char[]`, no regex and no per-tag allocation:
  * pass 1 applies rule 1, bulk-copying the text between tags; pass 2 applies
  * rules 2 and 3 in place on pass 1's output (it never writes past where it
  * reads). `TextExtractOracle` in the tests is the earlier three-pass, regex
  * version of the same spec, and `TextExtractPropSpec` holds the two equal.
  * No external parser (no jsoup on the classpath — and a hand-rolled parser is
  * what makes byte-identity pinnable).
  */
object TextExtract {

  private val BlockTags = Array(
    "p", "div", "br", "li", "h1", "h2", "h3", "h4", "h5", "h6", "tr", "title")

  private final val Other = 0
  private final val Block = 1
  private final val Script = 2
  private final val Style = 3

  def extract(html: String): String = {
    val buf = new Array[Char](html.length) // pass 1 never emits more than it reads
    val m = decodeAndNormalize(buf, stripTags(html, buf))
    var a = 0
    var z = m
    while (a < z && buf(a) <= ' ') a += 1 // String.trim's rule
    while (z > a && buf(z - 1) <= ' ') z -= 1
    new String(buf, a, z - a)
  }

  def extract(html: Array[Byte]): String =
    extract(new String(html, java.nio.charset.StandardCharsets.UTF_8))

  // --- pass 1: tags ---------------------------------------------------------

  /** Writes the tag-free text of `s` to `out`; returns its length. */
  private def stripTags(s: String, out: Array[Char]): Int = {
    val n = s.length
    var o = 0
    var i = 0
    while (i < n) {
      val lt = s.indexOf('<', i)
      val textEnd = if (lt < 0) n else lt
      s.getChars(i, textEnd, out, o)
      o += textEnd - i
      i = textEnd
      if (i < n) { // s(i) == '<'
        if (s.startsWith("<!--", i)) {
          val e = s.indexOf("-->", i + 4)
          i = if (e < 0) n else e + 3
        } else if (i + 1 < n && (s.charAt(i + 1) == '!' || s.charAt(i + 1) == '?')) {
          // doctype / processing instruction: skip to '>'
          val e = s.indexOf('>', i + 1)
          i = if (e < 0) n else e + 1
        } else {
          var j = i + 1
          val closing = j < n && s.charAt(j) == '/'
          if (closing) j += 1
          val nameStart = j
          // ASCII without 'I' lower-cases the same in every locale ('I' → 'ı' in
          // Turkish), so such names are classified in place; others take the
          // String.toLowerCase path the spec was written against
          var plain = true
          if (j < n && s.charAt(j).isLetter) { // tag name must START with a letter
            while (j < n && s.charAt(j).isLetterOrDigit) {
              val c = s.charAt(j)
              if (c >= 0x80 || c == 'I') plain = false
              j += 1
            }
          }
          if (j == nameStart) { out(o) = '<'; o += 1; i += 1 } // '<' not a tag: literal
          else {
            val kind = kindOf(s, nameStart, j, plain)
            val gt = s.indexOf('>', j)
            val tagEnd = if (gt < 0) n else gt + 1
            val selfClosing = gt > i && s.charAt(gt - 1) == '/'
            if (kind == Block) { out(o) = '\n'; o += 1 }
            if (!closing && !selfClosing && (kind == Script || kind == Style)) {
              val close = indexOfCloseTag(s, if (kind == Script) "</script" else "</style", tagEnd)
              if (close < 0) i = n
              else {
                val gt2 = s.indexOf('>', close)
                i = if (gt2 < 0) n else gt2 + 1
              }
            } else i = tagEnd
          }
        }
      }
    }
    o
  }

  private def kindOf(s: String, from: Int, to: Int, plain: Boolean): Int = {
    val lower = if (plain) null else s.substring(from, to).toLowerCase
    def is(name: String): Boolean =
      if (plain) to - from == name.length && s.regionMatches(true, from, name, 0, name.length)
      else lower == name
    if (is("script")) Script
    else if (is("style")) Style
    else {
      var k = 0
      while (k < BlockTags.length && !is(BlockTags(k))) k += 1
      if (k < BlockTags.length) Block else Other
    }
  }

  /** First index ≥ `from` where `needle` ("</" + a lower-case name) occurs,
    * comparing each input char through `Character.toLowerCase`; -1 if none. */
  private def indexOfCloseTag(s: String, needle: String, from: Int): Int = {
    val m = needle.length
    var i = s.indexOf("</", from)
    while (i >= 0 && i + m <= s.length) {
      var k = 2
      while (k < m && Character.toLowerCase(s.charAt(i + k)) == needle.charAt(k)) k += 1
      if (k == m) return i
      i = s.indexOf("</", i + 1)
    }
    -1
  }

  // --- pass 2: the six pinned entities and whitespace, in place ---------------

  private val EntityNames = Array("&amp;", "&lt;", "&gt;", "&quot;", "&#39;", "&nbsp;")
  private val EntityChars = Array('&', '<', '>', '"', '\'', ' ')

  /** Rewrites `b(0 until m)` per rules 2 and 3 (before the trim); returns the
    * new length. Every run or entity is written no longer than it was read. */
  private def decodeAndNormalize(b: Array[Char], m: Int): Int = {
    var w = 0
    var r = 0
    while (r < m) {
      val c = b(r)
      if (c > ' ' && c != '&') { b(w) = c; w += 1; r += 1 } // most chars
      else if (c == ' ' && r + 1 < m && b(r + 1) > ' ' && b(r + 1) != '&') {
        b(w) = ' '; w += 1; r += 1 // a lone space between words
      } else {
        val runStart = r
        var newlines = 0
        var inRun = true
        while (inRun && r < m) {
          val d = b(r)
          if (d == ' ' || d == '\t') r += 1
          else if (d == '\n') { newlines += 1; r += 1 }
          else if (d == '\r') { newlines += 1; r += (if (r + 1 < m && b(r + 1) == '\n') 2 else 1) }
          else if (d == '&' && spelledAt(b, r, m, "&nbsp;")) r += 6
          else inRun = false
        }
        if (r > runStart) {
          if (newlines == 0) { b(w) = ' '; w += 1 }
          else {
            b(w) = '\n'; w += 1
            if (newlines > 1) { b(w) = '\n'; w += 1 }
          }
        } else { // another control char, or '&' not starting &nbsp;
          var e = 0
          if (c == '&') while (e < EntityNames.length && !spelledAt(b, r, m, EntityNames(e))) e += 1
          if (c != '&' || e == EntityNames.length) { b(w) = c; r += 1 }
          else { b(w) = EntityChars(e); r += EntityNames(e).length }
          w += 1
        }
      }
    }
    w
  }

  private def spelledAt(b: Array[Char], r: Int, m: Int, word: String): Boolean = {
    val len = word.length
    if (r + len > m) false
    else {
      var k = 0
      while (k < len && b(r + k) == word.charAt(k)) k += 1
      k == len
    }
  }
}
