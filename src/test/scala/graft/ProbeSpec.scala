package graft

import graft.tools.Probe

/** The probe harness runs its bodies against a session it does not
  * own: the shared spec session must outlive them.
  */
class ProbeSpec extends SparkSpec {

  private def out(args: String*): String = {
    val buf = new java.io.ByteArrayOutputStream()
    Console.withOut(buf)(Probe.run(spark, args))
    buf.toString("UTF-8")
  }

  test("Probe runs query and plan on the shared session and leaves it alive") {
    val q = out("query", sfDir, "q26_simhash", "1")
    assert(q.matches("(?s)== q26_simhash rep 1: rows=\\d+ wall=[0-9.]+s\\s*"), q)
    val p = out("plan", sfDir, "q26_simhash", "Scan")
    assert(p.startsWith("lines matching 'Scan': ") && !p.contains(": 0\n"), p)
    assert(!spark.sparkContext.isStopped)
    assert(spark.range(3).count() == 3)
  }

  test("Probe plan files are identical across two runs of one build") {
    val dir = java.nio.file.Files.createTempDirectory("plans").toString
    val queries = Seq("q24_minhash_lsh", "q72_kmeans_ivf", "q105_ivfpq_serving")
    out("plan" +: sfDir +: dir +: "a" +: queries: _*)
    out("plan" +: sfDir +: dir +: "b" +: queries: _*)
    queries.foreach { q =>
      def text(suffix: String) = java.nio.file.Files.readString(
        java.nio.file.Paths.get(dir, s"${q}_$suffix.txt"))
      assert(text("a").contains("#N"), text("a"))
      assert(text("a") == text("b"), q)
    }
  }

  test("an unknown probe name fails with a usage that lists every probe") {
    val e = intercept[IllegalArgumentException](Probe.run(spark, Seq("nope", sfDir)))
    Probe.registry.foreach { case (name, _) =>
      assert(e.getMessage.contains(s"  $name <sfDir>"), e.getMessage)
    }
  }
}
