package graft

/** Comment-aware reads of Scala source text, for the specs that guard
  * what `src/main` may spell. */
object ScalaSource {

  /** The string literals of `src`, comments skipped. */
  def literals(src: String): Seq[String] =
    runs(src).collect { case (true, text) => text }

  /** `src` with its comments removed: code and literal contents. */
  def uncommented(src: String): String = runs(src).map(_._2).mkString

  /** `src` as (isLiteral, text) runs, comments dropped: the contents of
    * each string literal is one literal run, the code between them is
    * one code run. */
  private def runs(src: String): Seq[(Boolean, String)] = {
    val out = Seq.newBuilder[(Boolean, String)]
    var i = 0
    var code = 0 // where the pending code run starts
    def upTo(end: String, from: Int) = src.indexOf(end, from) match {
      case -1 => src.length
      case j => j
    }
    def flush(): Unit =
      if (i > code) out += false -> src.substring(code, math.min(i, src.length))
    while (i < src.length) {
      if (src.startsWith("//", i)) {
        flush()
        i = upTo("\n", i)
        code = i
      } else if (src.startsWith("/*", i)) {
        flush()
        var depth = 1
        i += 2
        while (depth > 0 && i < src.length) {
          if (src.startsWith("/*", i)) { depth += 1; i += 2 }
          else if (src.startsWith("*/", i)) { depth -= 1; i += 2 }
          else i += 1
        }
        code = i
      } else if (src.startsWith("\"\"\"", i)) {
        flush()
        val j = upTo("\"\"\"", i + 3)
        out += true -> src.substring(i + 3, j)
        i = j + 3
        code = i
      } else if (src.charAt(i) == '"') {
        flush()
        var j = i + 1
        while (j < src.length && src.charAt(j) != '"' && src.charAt(j) != '\n')
          j += (if (src.charAt(j) == '\\') 2 else 1)
        out += true -> src.substring(i + 1, math.min(j, src.length))
        i = j + 1
        code = i
      } else if (src.charAt(i) == '\'' && i + 2 < src.length &&
                 (src.charAt(i + 1) == '\\' || src.charAt(i + 2) == '\'')) {
        i = upTo("'", i + 2) + 1 // a char literal, such as '"'
      } else i += 1
    }
    flush()
    out.result()
  }
}
