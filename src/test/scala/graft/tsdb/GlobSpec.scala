package graft.tsdb

import org.scalatest.funsuite.AnyFunSuite

/** C4 series_expand + glob→regex compilation
  * (L_DataGraphiteAPI.lua:92-105,
  * L_DataFinders.lua:182-214).
  */
class GlobSpec extends AnyFunSuite {

  test("brace expansion order is depth-first, list order") {
    assert(Glob.expandBraces("host.{a,b}.cpu{0,1}.load") == Seq(
      "host.a.cpu0.load", "host.a.cpu1.load",
      "host.b.cpu0.load", "host.b.cpu1.load"))
  }

  test("no braces → identity") {
    assert(Glob.expandBraces("a.b.c") == Seq("a.b.c"))
  }

  test("star and question stay within one level") {
    val re = Glob.queryToRegex("vera.u1?.click", allowDeeper = false)
    assert("vera.u14.click".matches(re))
    assert(!"vera.u14x.click".matches(re))
    assert(!"vera.u1.click".matches(re))
    val star = Glob.queryToRegex("vera.*", allowDeeper = false)
    assert("vera.u14".matches(star))
    assert(!"vera.u14.click".matches(star))
  }

  test("allowDeeper accepts longer paths") {
    val re = Glob.queryToRegex("vera.*", allowDeeper = true)
    assert("vera.u14".matches(re))
    assert("vera.u14.click".matches(re))
    assert(!"other.u14".matches(re))
  }

  test("brace alternatives compile into the regex") {
    val re = Glob.queryToRegex("vera.u{1,2}.click", allowDeeper = false)
    assert("vera.u1.click".matches(re))
    assert("vera.u2.click".matches(re))
    assert(!"vera.u3.click".matches(re))
  }

  test("empty brace alternatives: regex path mirrors expansion path") {
    // expandBraces drops empty items ('{a,}' → just 'a'); the compiled
    // regex must not match the empty component either, or the find fast
    // path would return paths the expansion path would not
    assert(Glob.expandBraces("x.{a,}.y") == Seq("x.a.y"))
    val re = Glob.queryToRegex("x.{a,}.y", allowDeeper = false)
    assert("x.a.y".matches(re))
    assert(!"x..y".matches(re))
  }

  test("regex metacharacters in literals are quoted") {
    val re = Glob.queryToRegex("a+b.c", allowDeeper = false)
    assert("a+b.c".matches(re))
    assert(!"aab.c".matches(re))
  }

  test("dotted brace groups compile (split is brace-aware, not dot-blind)") {
    val re = Glob.queryToRegex("vera.{u1.cpu,u2}.load", allowDeeper = false)
    assert("vera.u1.cpu.load".matches(re))
    assert("vera.u2.load".matches(re))
    assert(!"vera.u3.load".matches(re))
    // depth counts brace-aware components, not raw dots
    assert(Glob.depth("vera.{u1.cpu,u2}.load") == 3)
  }

  test("globs inside brace alternatives stay live, matching the expansion path") {
    val re = Glob.queryToRegex("cpu{0*,1}.load", allowDeeper = false)
    assert("cpu01.load".matches(re) && "cpu0.load".matches(re)
      && "cpu1.load".matches(re))
    assert(!"cpu2.load".matches(re))
  }

  test("'{}' is one empty alternative in both paths") {
    assert(Glob.expandBraces("foo{}") == Seq("foo"))
    assert("foo".matches(Glob.queryToRegex("foo{}", allowDeeper = false)))
  }
}
