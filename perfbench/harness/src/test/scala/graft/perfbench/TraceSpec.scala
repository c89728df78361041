package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite {
  test("self time is the span minus the union of its children") {
    val spans = Seq(
      Span(0, "op", -1, 0, 100, "r"),
      Span(1, "a", 0, 10, 40, "r"),
      Span(2, "b", 0, 30, 60, "r"), // overlaps a by 10
      Span(3, "job", 1, 15, 25, "r"))
    val self = Tracer.selfSeconds(spans).map { case (k, v) => k -> math.round(v * 1e9) }
    assert(self == Map("op" -> 50L, "a" -> 20L, "b" -> 30L, "job" -> 10L))
  }

  test("disabled tracer records nothing; enabled tracer nests spans") {
    val off = new Tracer(enabled = false, run = "r")
    assert(off.span("x")(42) == 42 && off.all.isEmpty)
    val on = new Tracer(enabled = true, run = "r")
    on.span("op")(on.span("inner")(()))
    val byName = on.all.map(s => s.name -> s).toMap
    assert(byName("inner").parent == byName("op").id && byName("op").parent == -1)
  }
}
