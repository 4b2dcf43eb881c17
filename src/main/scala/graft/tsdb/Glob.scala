package graft.tsdb

/** Graphite metric-path glob handling: `*`, `?`, `{a,b}` value lists.
  *
  * The reference expands `{...}` lists with a coroutine
  * (L_DataGraphiteAPI.lua:92-105) and converts each
  * path component to a Lua pattern per tree level
  * (L_DataFinders.lua:182-214). We compile the whole
  * query to a single anchored regex (portable Java/RE2 subset) so it
  * can be pushed into a parquet-scan `rlike` filter instead of a
  * per-level tree walk.
  */
object Glob {

  /** Expand `pre{A,B}post{X,Y}` into the full cross product, in the
    * reference's order (depth-first, list order).
    */
  def expandBraces(x: String): Seq[String] = {
    val braceRe = """(?s)^(.*?)(\{[^{}]*\})(.*)$""".r
    x match {
      case braceRe(pre, braces, post) =>
        val items = braces.substring(1, braces.length - 1).split(",").filter(_.nonEmpty)
        // '{}' (or '{,}') = one empty alternative: 'foo{}' must expand
        // to 'foo', matching the regex path's 'foo()' — an empty Seq
        // here would vanish the whole target and crash multi-target
        // reduces downstream
        val items2 = if (items.isEmpty) Array("") else items
        items2.toSeq.flatMap(item => expandBraces(post).map(p => pre + item + p))
      case _ => Seq(x)
    }
  }

  private def quoteRegex(c: Char): String =
    if ("\\^$.|?*+()[]{}".indexOf(c) >= 0) "\\" + c else c.toString

  /** One glob path-component → regex fragment. `*` and `?` never cross
    * a `.` boundary (they match within a single tree level, as in the
    * reference's per-component matching).
    */
  def componentToRegex(comp: String): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < comp.length) {
      comp.charAt(i) match {
        case '*' => sb.append("[^.]*")
        case '?' => sb.append("[^.]")
        case '{' =>
          val close = comp.indexOf('}', i)
          require(close > i, s"unbalanced brace in '$comp'")
          // drop empty alternatives ('{a,}' → just 'a'), mirroring
          // expandBraces — '(a|)' would also match an empty component,
          // so the fast regex path would disagree with expansion.
          // Globs INSIDE an alternative stay live ('{0*,1}' must match
          // '01' — the expansion path treats each alternative as a
          // pattern, so the single-regex path must too); a '.' from a
          // dotted alternative quotes to a literal level separator.
          val alts = comp.substring(i + 1, close).split(",")
            .filter(_.nonEmpty).map(_.flatMap {
              case '*' => "[^.]*"
              case '?' => "[^.]"
              case a => quoteRegex(a)
            }).mkString("|")
          sb.append("(").append(if (alts.isEmpty) "" else alts).append(")")
          i = close
        case c => sb.append(quoteRegex(c))
      }
      i += 1
    }
    sb.toString
  }

  /** Split a query on dots NOT inside a brace group, so a dotted value
    * list (`vera.{u1.cpu,u2}.load`) stays one component instead of
    * crashing componentToRegex with an unbalanced fragment.
    */
  private[tsdb] def splitQuery(query: String): Array[String] = {
    val out = Array.newBuilder[String]
    val sb = new StringBuilder
    var depth = 0
    query.foreach {
      case '{' => depth += 1; sb.append('{')
      case '}' => depth = math.max(0, depth - 1); sb.append('}')
      case '.' if depth == 0 => out += sb.toString; sb.clear()
      case c => sb.append(c)
    }
    out += sb.toString
    out.result()
  }

  /** Compile a full dotted glob query. Matches paths whose first
    * `depth(query)` components match; `allowDeeper` additionally
    * accepts longer paths (for branch-node discovery).
    */
  def queryToRegex(query: String, allowDeeper: Boolean): String = {
    val comps = splitQuery(query).map(componentToRegex)
    val tail = if (allowDeeper) "(\\..+)?" else ""
    "^" + comps.mkString("\\.") + tail + "$"
  }

  def depth(query: String): Int = splitQuery(query).length
}
