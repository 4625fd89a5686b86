package graft

/** Every `Prof` mode runs against the shared session at sf0.001, prints
  * its line, and leaves the session usable.
  */
class ProfSpec extends SparkSpec {

  private def printed(mode: String, args: String*): String = {
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(out)(Prof.modes(mode)(spark, args))
    out.toString("UTF-8")
  }

  private val lines = Seq(
    ("time", Seq(sfDir, "q1_agg"), s"TIME q1_agg $sfDir median="),
    ("stages", Seq(sfDir, "q1_agg"), "TOTAL q1_agg"),
    ("scale", Seq(sfDir, "q1_agg"), "SCALE q1_agg base="),
    ("plans", Seq(sfDir, "q1_agg"), "== Physical Plan =="),
    ("jobcost", Seq.empty, "JOBCOST per-trivial-action ms="),
    ("stream", Seq(sfDir), "STREAM s_window_agg"),
    ("threads", Seq(sfDir, "1", "q1_agg"), "THREADS run=1 heapMB="))

  test("the specs cover every mode") {
    assert(lines.map(_._1).toSet == Prof.modes.keySet)
  }

  lines.foreach { case (mode, args, line) =>
    test(s"Prof $mode prints its line and leaves the session usable") {
      val out = printed(mode, args: _*)
      assert(out.contains(line), out)
      assert(spark.range(5).count() == 5L)
    }
  }

  test("Prof time prints every run: one cold and three warm") {
    val runs = printed("time", sfDir, "q1_agg").linesIterator.filter(_.startsWith("RUN q1_agg")).toList
    assert(runs.size == 4, runs)
    assert(runs.forall(r => r.contains("persistedRDDs=") && r.contains(" held=")), runs)
  }

  test("Prof threads prints one line a run with every pool's count") {
    val runs = printed("threads", sfDir, "2", "q1_agg").linesIterator.filter(_.startsWith("THREADS")).toList
    assert(runs.size == 2, runs)
    runs.foreach(r => Prof.threadPools.foreach(p => assert(r.contains(s" ${p.stripSuffix("-")}="), r)))
  }
}
