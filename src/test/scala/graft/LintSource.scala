package graft

/** Shared source scrubber for the doctrine lint specs
  * ([[CollectLintSpec]], [[MicroDomainLintSpec]]): replaces comments
  * and string/char literals with spaces while preserving line
  * structure, so pattern counts match only live code — a `.collect()`
  * mention in a Scaladoc continuation line or inside an oracle SQL
  * string is not a driver-side materialization. Handles `//` line
  * comments, NESTED block comments (Scala nests them), `"…"`,
  * `"""…"""` (including the trailing-quote run `"""x""""`), and char
  * literals; `${…}` splice CONTENT inside interpolated strings stays
  * visible as code in both modes — a `.collect()` inside an
  * interpolation is a real driver-side call.
  */
object LintSource {

  /** Comments blanked, string literals KEPT — for lints whose targets
    * live inside expr("...")/SQL strings (MicroDomainLintSpec).
    */
  def stripComments(text: String): String = scrub(text, keepStrings = true)

  def codeOnly(text: String): String = scrub(text, keepStrings = false)

  private def scrub(text: String, keepStrings: Boolean): String = {
    val sb = new StringBuilder(text.length)
    var i = 0
    val n = text.length
    var blockDepth = 0
    var inLine, inStr, inTriple, inChar = false
    // ${...} splice nesting depth while inside a string: splice
    // content is CODE (a `.collect()` inside an interpolation is a
    // real driver-side call and must stay visible to CollectLintSpec).
    // Brace counting only — a brace inside a string literal nested in
    // a splice would miscount, a shape this codebase doesn't use.
    var spliceDepth = 0
    def nl(c: Char) = c == '\n' || c == '\r'
    def blank(c: Char): Char = if (nl(c)) c else ' '
    while (i < n) {
      val c = text(i)
      if (spliceDepth > 0) {
        if (c == '{') { spliceDepth += 1; sb.append(c) }
        else if (c == '}') {
          spliceDepth -= 1
          sb.append(if (spliceDepth == 0) ' ' else c)
        } else sb.append(c)
        i += 1
      } else if (inLine) {
        if (nl(c)) { inLine = false; sb.append(c) } else sb.append(' ')
        i += 1
      } else if (blockDepth > 0) {
        if (c == '/' && i + 1 < n && text(i + 1) == '*') {
          blockDepth += 1; sb.append("  "); i += 2
        } else if (c == '*' && i + 1 < n && text(i + 1) == '/') {
          blockDepth -= 1; sb.append("  "); i += 2
        } else { sb.append(blank(c)); i += 1 }
      } else if (inTriple) {
        if (c == '"' && i + 2 < n && text(i + 1) == '"' &&
            text(i + 2) == '"') {
          var j = i + 3
          while (j < n && text(j) == '"') j += 1 // """x"""" closer run
          while (i < j) { sb.append(' '); i += 1 }
          inTriple = false
        } else if (c == '$' && i + 1 < n && text(i + 1) == '{') {
          spliceDepth = 1; sb.append("  "); i += 2
        } else {
          sb.append(if (keepStrings) c else blank(c)); i += 1
        }
      } else if (inStr || inChar) {
        val close = if (inStr) '"' else '\''
        if (inStr && c == '$' && i + 1 < n && text(i + 1) == '{') {
          spliceDepth = 1; sb.append("  "); i += 2
        } else if (c == '\\' && i + 1 < n) {
          sb.append(if (keepStrings) text.substring(i, i + 2) else "  ")
          i += 2
        } else if (c == close) {
          inStr = false; inChar = false; sb.append(' '); i += 1
        } else if (nl(c)) { // unterminated — bail at EOL, stay sane
          inStr = false; inChar = false; sb.append(c); i += 1
        } else { sb.append(if (keepStrings) c else ' '); i += 1 }
      } else {
        if (c == '/' && i + 1 < n && text(i + 1) == '/') {
          inLine = true; sb.append("  "); i += 2
        } else if (c == '/' && i + 1 < n && text(i + 1) == '*') {
          blockDepth = 1; sb.append("  "); i += 2
        } else if (c == '"' && i + 2 < n && text(i + 1) == '"' &&
            text(i + 2) == '"') {
          inTriple = true; sb.append("   "); i += 3
        } else if (c == '"') { inStr = true; sb.append(' '); i += 1 }
        else if (c == '\'') {
          // char literal only when it closes as one ('a' / '\n');
          // otherwise it's a quote in type position — leave it
          val lit = (i + 2 < n && text(i + 1) != '\\' &&
              text(i + 2) == '\'') ||
            (i + 3 < n && text(i + 1) == '\\' && text(i + 3) == '\'')
          if (lit) { inChar = true; sb.append(' ') } else sb.append(c)
          i += 1
        } else { sb.append(c); i += 1 }
      }
    }
    sb.toString
  }

  /** Main-source .scala files under src/main/scala/graft with raw
    * text, relative path as key.
    */
  def mainSources(): Map[String, String] = sources("src/main/scala/graft")

  /** Every .scala file under `dir` with raw text, path relative to
    * `dir` as key.
    */
  def sources(dir: String): Map[String, String] = {
    val root = java.nio.file.Paths.get(dir)
    val out = scala.collection.mutable.Map[String, String]()
    val stream = java.nio.file.Files.walk(root)
    try stream.forEach { p =>
      if (p.toString.endsWith(".scala"))
        out(root.relativize(p).toString) = new String(
          java.nio.file.Files.readAllBytes(p),
          java.nio.charset.StandardCharsets.UTF_8)
    } finally stream.close()
    out.toMap
  }
}
