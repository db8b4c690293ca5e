package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {
  private def generate(seed: Long): Path = {
    val d = Files.createTempDirectory("perfbench-gen")
    Gen.writeBib(Files.createDirectories(d.resolve("bib")), seed, 300)
    Gen.writeCitation(Files.createDirectories(d.resolve("cit")), seed, 500, 5)
    d
  }

  private def walk(d: Path): Seq[Path] = {
    val s = Files.walk(d)
    try s.iterator.asScala.toSeq finally s.close()
  }

  private def delete(d: Path): Unit = walk(d).reverse.foreach(Files.delete)

  private def contents(d: Path): Map[String, String] =
    walk(d).filter(Files.isRegularFile(_)).map { p =>
      val sha = java.security.MessageDigest.getInstance("SHA-256").digest(Files.readAllBytes(p))
      d.relativize(p).toString -> sha.map(b => f"$b%02x").mkString
    }.toMap

  test("the same seed gives identical bytes, another seed different ones") {
    val (a, b, c) = (generate(11), generate(11), generate(12))
    try {
      val ca = contents(a)
      assert(ca.size == 6 + 3, ca.keys.toSeq.sorted)
      assert(ca == contents(b))
      val cc = contents(c)
      assert(ca.keySet == cc.keySet)
      assert(ca.keys.filterNot(_.endsWith("manifest.json")).filter(k => ca(k) == cc(k)).isEmpty)
    } finally Seq(a, b, c).foreach(delete)
  }

  test("the export files plant overlap, DOI-less rows, rejects and a CRLF file") {
    val d = generate(5)
    try {
      val m = Json.read(d.resolve("bib/manifest.json"))
      assert(m.path("survivors").asInt < m.path("records").asInt)
      assert(m.path("keyless").asInt > 0 && m.path("sd_rejects").asInt > 0)
      val wos = new String(Files.readAllBytes(d.resolve("bib/wos.txt")), "UTF-8")
      assert(wos.contains("\r\nER\r\n"))
      assert(!new String(Files.readAllBytes(d.resolve("bib/pubmed.txt")), "UTF-8").contains("\r"))
    } finally delete(d)
  }
}
