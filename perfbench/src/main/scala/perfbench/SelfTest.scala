package perfbench

/** Checks the benchmark's own arithmetic without Spark work: quartiles
  * against values from Python's `statistics.quantiles(n=4)`, span self
  * time, parent links and the JSON writer. Exits 1 if any check fails.
  *
  *   java -cp <classpath> perfbench.SelfTest
  */
object SelfTest {
  private var failures = 0

  private def check(name: String, ok: Boolean, detail: => String = ""): Unit =
    if (!ok) { failures += 1; System.err.println(s"FAIL $name $detail") }
    else println(s"ok   $name")

  private def close(a: Double, b: Double) = math.abs(a - b) < 1e-12

  def main(args: Array[String]): Unit = {
    // statistics.quantiles([1..10], n=4) == [2.75, 5.5, 8.25], etc.
    val cases = Seq(
      (1 to 10).map(_.toDouble) -> (2.75, 5.5, 8.25),
      Seq(3.5, 1.25, 9.0, 2.0, 7.75) -> (1.625, 3.5, 8.375),
      Seq(2.0, 1.0) -> (0.75, 1.5, 2.25))
    for ((xs, (a, b, c)) <- cases) {
      val (q1, q2, q3) = Stats.quartiles(xs)
      check(s"quartiles ${xs.mkString(",")}", close(q1, a) && close(q2, b) && close(q3, c), s"got ($q1, $q2, $q3)")
    }
    check("median odd", Stats.median(Seq(5.0, 1.0, 3.0)) == 3.0)
    check("median even", Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)

    // a 100 us span with children over [10,30), [20,50) and [90,120): the
    // union clipped to the parent covers 40 + 10 us, leaving 50 us of self time
    val parent = Span(0, "p", -1, 0L, 100L)
    val kids = Seq((10L, 30L), (20L, 50L), (90L, 120L))
    check("self time", Tracer.selfTimeUs(parent, kids) == 50L, s"got ${Tracer.selfTimeUs(parent, kids)}")
    check("self time, no children", Tracer.selfTimeUs(parent, Nil) == 100L)
    check("union of disjoint and nested intervals",
      Stats.unionLength(Seq((0L, 10L), (2L, 5L), (20L, 25L))) == 15L)

    val off = new Tracer(null)
    check("disabled tracer keeps nothing", { off.span("x")(1); off.spans.isEmpty })

    val t = new Tracer(null)
    t.enabled = true
    t.span("a") { t.span("b")(()); t.span("c")(t.span("d")(())) }
    val parents = t.spans.map(s => s.name -> t.spans.find(_.id == s.parent).map(_.name).getOrElse("-")).toMap
    check("parent links", parents == Map("a" -> "-", "b" -> "a", "c" -> "a", "d" -> "c"), parents.toString)
    def subtreeNames(n: String) = t.subtree(t.named(n).head.id).map(i => t.spans(i).name)
    check("subtree", subtreeNames("c") == Set("c", "d") && subtreeNames("a") == Set("a", "b", "c", "d"))
    check("spans close in order", t.spans.forall(s => s.endUs >= s.startUs) &&
      t.named("d").head.endUs <= t.named("c").head.endUs)

    val json = Json.write(Map("a" -> Seq[Any](1, 2.5), "b" -> "q\"\n", "c" -> Double.NaN))
    check("json", json == """{"a":[1,2.5],"b":"q\"\n","c":null}""", json)

    if (failures > 0) { System.err.println(s"$failures self-test failure(s)"); sys.exit(1) }
  }
}
