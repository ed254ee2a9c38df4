package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the bench-reference merge discipline on the COMMITTED files:
  * every query the committed `bench_out.json` timed must have a row in
  * the committed `bench_ref.json` (the min-merged best-known baseline
  * Bench.scala reads by default). A round that adds queries and
  * forgets `python3 tools/merge_bench_ref.py bench_out.json` would
  * otherwise quietly ship retime gates that never fire for the new
  * queries — the committed-reference sibling of the r14
  * whitespace-parse incident. No Spark session needed: this is a file
  * contract, not a measurement. */
class BenchRefSpec extends AnyFunSuite {

  private def queryKeys(path: String): Set[String] = {
    val p = java.nio.file.Paths.get(path)
    assume(java.nio.file.Files.exists(p), s"$path not present in this checkout")
    val text = java.nio.file.Files.readString(p)
    val qStart = text.indexOf("\"queries\":{") + "\"queries\":{".length
    assert(qStart >= "\"queries\":{".length, s"$path has no queries object")
    val body = text.substring(qStart, text.indexOf('}', qStart))
    "\"([^\"]+)\":".r.findAllMatchIn(body).map(_.group(1)).toSet
  }

  test("every query in the committed bench_out.json is min-merged into bench_ref.json") {
    val run = queryKeys("bench_out.json")
    val ref = queryKeys("bench_ref.json")
    val unmerged = (run -- ref).toSeq.sorted
    assert(unmerged.isEmpty,
      s"${unmerged.size} committed bench queries missing from bench_ref.json " +
        s"(${unmerged.mkString(", ")}) — run `python3 tools/merge_bench_ref.py " +
        "bench_out.json` and commit both files, or these queries' retime " +
        "gates stay permanently inert")
  }

  test("bench_ref.json is an sf0.1 record (cross-SF numbers would poison every retime)") {
    val text = java.nio.file.Files.readString(
      java.nio.file.Paths.get("bench_ref.json"))
    assert(text.contains("\"sf\":\"/root/testdata/sf0.1\""),
      "bench_ref.json must carry sf /root/testdata/sf0.1")
  }

  private def env(kv: (String, String)*): String => Option[String] = kv.toMap.get

  test("Bench core counts parse as integers, compare as numbers, and fail loudly on garbage") {
    val t = Bench.runTarget(env("SPARK_GRAFT_CPUS" -> " 32", "SPARK_GRAFT_REF_CPUS" -> "032"))
    assert(t.cpus == 32 && t.refCpus == 32 && t.atRef)
    val d = Bench.runTarget(env())
    assert(d.cpus == 32 && d.refCpus == 32)
    assert(!Bench.runTarget(env("SPARK_GRAFT_CPUS" -> "8")).atRef)
    Seq("eight", "", "0", "-4", "3.5").foreach { bad =>
      intercept[IllegalArgumentException](Bench.runTarget(env("SPARK_GRAFT_CPUS" -> bad)))
      intercept[IllegalArgumentException](Bench.runTarget(env("SPARK_GRAFT_REF_CPUS" -> bad)))
    }
  }

  test("only a Bench run at the reference core count overwrites the mutable out file") {
    assert(Bench.runTarget(env()).outFiles == Seq("bench_out.json", "bench_out_c32.json"))
    val c8 = Bench.runTarget(env("SPARK_GRAFT_CPUS" -> "8",
      "SPARK_GRAFT_BENCH_OUT" -> "runs/a.b/out.json"))
    assert(c8.outFiles == Seq("runs/a.b/out_c8.json"))
    val ref8 = Bench.runTarget(env("SPARK_GRAFT_CPUS" -> "8", "SPARK_GRAFT_REF_CPUS" -> "8",
      "SPARK_GRAFT_BENCH_OUT" -> "runs/a.b/out"))
    assert(ref8.outFiles == Seq("runs/a.b/out", "runs/a.b/out_c8"))
  }
}
