package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Library code takes no settings from the environment: each of its
  * values is a constant or a parameter, so the tests and the benchmark
  * cover the only configuration that runs. The entry-point mains read
  * deployment settings (CPU count, data paths, query filters) and are
  * exempt. */
class LibraryConfigSpec extends AnyFunSuite {

  private val EntryPoints = Set("Bench", "Verify", "ScaleProbe",
    "PlanAudit", "PlanDump", "ExtractJob", "SchemaProbe").map(_ + ".scala")
  private val SettingRead = """sys\.env|System\.getenv|"spark\.graft\.""".r

  test("library code reads no env var and no spark.graft.* conf key") {
    val walk = Files.walk(Paths.get("src/main/scala/graft"))
    val sources =
      try walk.iterator().asScala.filter { p =>
        val name = p.getFileName.toString
        name.endsWith(".scala") && !EntryPoints(name)
      }.toList
      finally walk.close()
    assert(sources.exists(_.toString.endsWith("sink/Layout.scala")),
      "scan found no library sources")
    val reads = for {
      f <- sources
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if SettingRead.findFirstIn(line).nonEmpty
    } yield s"$f:${i + 1}: ${line.trim}"
    assert(reads.isEmpty, reads.mkString("\n", "\n", ""))
  }
}
