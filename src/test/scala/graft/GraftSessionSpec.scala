package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The library front door wires extensions + UDFs + conventions. */
class GraftSessionSpec extends AnyFunSuite {

  test("GraftSession exposes native expressions, UDFs, UTC, and AQE skew handling") {
    // pin the shared test session FIRST so this spec never becomes the
    // JVM's session creator (that would drop TestSpark's temp warehouse
    // static conf for every later suite); TestSpark carries
    // GraftExtensions, so the reuse path exercises the probe + the
    // per-session registration, and runtime confs still apply
    TestSpark.spark
    val spark = GraftSession.getOrCreate(_.master("local[4]"))
    // native codegen expression from GraftExtensions
    assert(spark.sql("SELECT cnpj_is_valid('04.252.011/0001-10')").collect()(0).getBoolean(0))
    // registered UDF surface
    assert(spark.sql("SELECT cnpj_validate('04.252.011/0001-10').valido").collect()(0).getBoolean(0))
    // conventions
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true")
  }

  test("only GraftSession and tools.Harness build a SparkSession in src/main") {
    // every tool shares Harness's session basis; a hand-rolled builder is
    // how 45 probes each drifted to their own config (runs from the repo
    // root, like DocConsistencySpec)
    val allowed = Set("src/main/scala/graft/GraftSession.scala",
      "src/main/scala/graft/tools/Harness.scala")
    val walk = Files.walk(Paths.get("src/main/scala"))
    val builders = try walk.iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .map(_.toString)
      .filterNot(allowed)
      .flatMap { p =>
        new String(Files.readAllBytes(Paths.get(p)), StandardCharsets.UTF_8)
          .linesIterator.zipWithIndex
          .collect { case (l, i) if l.contains("SparkSession.builder") => s"$p:${i + 1}" }
      }.toList
    finally walk.close()
    assert(builders.isEmpty,
      s"build the session through graft.tools.Harness.session (or GraftSession): $builders")
  }

  test("only Scratch names a directory under java.io.tmpdir in src/main") {
    // a fixed name under the shared temp dir collides across JVMs: Verify
    // and Bench side by side rebuilt each other's q_ivf_pq index files
    // (FILE_NOT_EXIST); run-scoped state goes under Scratch.dir instead
    val allowed = Set("src/main/scala/graft/Scratch.scala")
    val walk = Files.walk(Paths.get("src/main/scala"))
    val sites = try walk.iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .map(_.toString)
      .filterNot(allowed)
      .flatMap { p =>
        new String(Files.readAllBytes(Paths.get(p)), StandardCharsets.UTF_8)
          .linesIterator.zipWithIndex
          .collect { case (l, i) if l.contains("java.io.tmpdir") => s"$p:${i + 1}" }
      }.toList
    finally walk.close()
    assert(sites.isEmpty, s"put run-scoped directories under graft.Scratch.dir: $sites")
  }
}
