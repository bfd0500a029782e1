package graft

import org.scalatest.funsuite.AnyFunSuite

/** Corpus-regen detection in the JVM gate (r16 verdict "next" #2).
  *
  * graft.Gate.corpusFingerprint/corpusMoved are the JVM twin of
  * tools/corpus_fp.py: one committed CORPUS_FP.json must serve both the
  * python sf1 gate and Bench's Gate.enforce, so the key format and md5
  * digests have to be byte-identical. Pure-JVM tests (no Spark session):
  * synthetic corpora in temp dirs, plus a live parity sweep against the
  * committed fingerprint the python tool recorded.
  */
class GateCorpusSpec extends AnyFunSuite {

  private def tempCorpus(): java.nio.file.Path = {
    val root = java.nio.file.Files.createTempDirectory("graft-corpus")
    val sf = java.nio.file.Files.createDirectory(root.resolve("sf0.01"))
    java.nio.file.Files.write(sf.resolve("a.parquet"),
      "hello".getBytes("UTF-8"))
    java.nio.file.Files.write(sf.resolve("b.parquet"),
      "world".getBytes("UTF-8"))
    // non-parquet files are invisible to the fingerprint (matching the
    // python tool's name.endswith filter)
    java.nio.file.Files.write(sf.resolve("_SUCCESS"), Array.empty[Byte])
    root
  }

  private def writeFp(fp: Map[String, String]): java.nio.file.Path = {
    val f = java.nio.file.Files.createTempFile("graft-fp", ".json")
    val body = fp.toSeq.sorted
      .map { case (k, v) => "\"" + k + "\": \"" + v + "\"" }
      .mkString("{\"files\": {", ", ", "}}")
    java.nio.file.Files.writeString(f, body)
    f
  }

  test("fingerprint keys and digests match the python tool's format") {
    val root = tempCorpus()
    val fp = Gate.corpusFingerprint(root)
    // hashlib.md5(b"hello").hexdigest() / (b"world") — the canonical
    // digests; a format drift here would silently split the two gates
    assert(fp == Map(
      "sf0.01/a.parquet" -> "5d41402abc4b2a76b9719d911017c592",
      "sf0.01/b.parquet" -> "7d793037a0760186574b0282f2f435e7"), fp.toString)
  }

  test("unchanged corpus reads as not-moved") {
    val root = tempCorpus()
    val fpFile = writeFp(Gate.corpusFingerprint(root))
    assert(Gate.corpusMoved(root, fpFile) == Right(Seq.empty))
  }

  test("a mutated, an added, and a removed parquet all read as moved") {
    val root = tempCorpus()
    val fpFile = writeFp(Gate.corpusFingerprint(root))
    val sf = root.resolve("sf0.01")
    java.nio.file.Files.write(sf.resolve("a.parquet"),
      "HELLO".getBytes("UTF-8"))                       // mutated
    java.nio.file.Files.write(sf.resolve("c.parquet"),
      "new".getBytes("UTF-8"))                         // added
    java.nio.file.Files.delete(sf.resolve("b.parquet")) // removed
    assert(Gate.corpusMoved(root, fpFile) == Right(Seq(
      "sf0.01/a.parquet", "sf0.01/b.parquet", "sf0.01/c.parquet")))
  }

  test("unreadable or format-drifted fingerprint files are Left, not 'moved'") {
    val root = tempCorpus()
    val junk = java.nio.file.Files.createTempFile("graft-fp", ".json")
    java.nio.file.Files.writeString(junk, "not json at all {")
    assert(Gate.corpusMoved(root, junk).isLeft)
    val noFiles = java.nio.file.Files.createTempFile("graft-fp", ".json")
    java.nio.file.Files.writeString(noFiles, "{\"digests\": {}}")
    assert(Gate.corpusMoved(root, noFiles).isLeft,
      "a parseable file without the 'files' object must be a writer " +
        "error, not an empty-corpus match")
  }

  test("live parity: the committed CORPUS_FP.json (written by the python " +
    s"tool) matches the JVM fingerprint of ${TestData.Root}") {
    val fp = java.nio.file.Paths.get("CORPUS_FP.json")
    val testdata = java.nio.file.Paths.get(TestData.Root)
    assume(java.nio.file.Files.exists(fp) &&
      java.nio.file.Files.isDirectory(testdata),
      "committed fingerprint + driver corpus present")
    Gate.corpusMoved(testdata, fp) match {
      case Right(Seq()) => succeed
      case Right(moved) => fail(
        s"corpus moved vs committed CORPUS_FP.json (${moved.size} files: " +
          s"${moved.take(5).mkString(", ")}) — if the driver regenerated " +
          s"${TestData.Root}, re-cut the envelopes and run " +
          "tools/corpus_fp.py record; otherwise the JVM/python " +
          "fingerprints have diverged")
      case Left(reason) => fail(s"committed fingerprint unreadable: $reason")
    }
  }
}
