package graft

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.ops.Materialize

class MaterializeSpec extends SparkSpec {
  import spark.implicits._

  private def tmpInput(): File = {
    val f = Files.createTempFile("mat_in", ".parquet").toFile
    f.deleteOnExit()
    f
  }

  test("cached builds once and serves identical rows afterwards") {
    val in = tmpInput()
    var builds = 0
    def get() = Materialize.cached(spark, s"spec|${in.getName}", Seq(in.getPath)) {
      builds += 1
      Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    }
    val first = get().orderBy("id").collect().toSeq
    val second = get().orderBy("id").collect().toSeq
    assert(builds == 1, "second call must be a cache hit")
    assert(first == second)
  }

  test("store key changes when the input file fingerprint changes") {
    val in = tmpInput()
    val p1 = Materialize.pathFor(spark, "spec|fp", Seq(in.getPath))
    assert(in.setLastModified(in.lastModified() + 73000))
    val p2 = Materialize.pathFor(spark, "spec|fp", Seq(in.getPath))
    assert(p1 != p2, "regenerated input must map to a fresh store path")
  }

  test("missing fingerprint input fails loudly instead of hashing as absent") {
    val ghost = new File("/tmp/definitely_not_here_" + System.nanoTime())
    val e = intercept[IllegalArgumentException] {
      Materialize.pathFor(spark, "spec|missing", Seq(ghost.getPath))
    }
    assert(e.getMessage.contains(ghost.getPath))
  }

  test("code fingerprint is stable within a JVM and folded into the key") {
    assert(Materialize.codeFingerprint == Materialize.codeFingerprint)
    assert(Materialize.codeFingerprint.matches("[0-9a-f]{32}"))
    // the key must depend on it: same tag+inputs in a different code
    // universe would differ, which we can only assert indirectly — the
    // path embeds a hash over (tag, codeFingerprint, fingerprints), so a
    // differing tag proves the hash covers its inputs at all
    val in = tmpInput()
    assert(Materialize.pathFor(spark, "a", Seq(in.getPath)) != Materialize.pathFor(spark, "b", Seq(in.getPath)))
  }

  test("a complete store published by another process is served, not rebuilt") {
    val in = tmpInput()
    val tag = s"spec|race|${in.getName}"
    val path = Materialize.pathFor(spark, tag, Seq(in.getPath))
    Seq((9L, "winner")).toDF("id", "v")
      .write.mode("overwrite").parquet(path.getAbsolutePath)
    val served = Materialize.cached(spark, tag, Seq(in.getPath)) {
      fail("builder must not run when a complete store exists")
    }
    assert(served.select("v").as[String].collect().toSeq == Seq("winner"))
  }

  test("a half-written store (no _SUCCESS) is rebuilt, never served") {
    val in = tmpInput()
    val tag = s"spec|corrupt|${in.getName}"
    val path = Materialize.pathFor(spark, tag, Seq(in.getPath))
    // simulate a pre-atomic remnant: data present, no _SUCCESS marker
    Seq((9L, "stale")).toDF("id", "v")
      .write.mode("overwrite").parquet(path.getAbsolutePath)
    assert(new File(path, "_SUCCESS").delete())
    val served = Materialize.cached(spark, tag, Seq(in.getPath)) {
      Seq((1L, "fresh")).toDF("id", "v")
    }
    assert(served.select("v").as[String].collect().toSeq == Seq("fresh"))
  }

  test("stored marks a writer's output complete and serves it afterwards") {
    val in = tmpInput()
    val tag = s"spec|stored|${in.getName}"
    val path = Materialize.stored(spark, tag, Seq(in.getPath)) { p =>
      Files.createDirectories(new File(p).toPath)
      Files.write(new File(p, "model.txt").toPath, "m".getBytes("UTF-8"))
    }
    assert(new File(path, "_SUCCESS").exists())
    assert(Materialize.stored(spark, tag, Seq(in.getPath))(_ =>
      fail("writer must not run when a complete store exists")) == path)
  }

  test("publish serves a lost race's winner and rethrows any other move failure") {
    def dirWith(files: String*): File = {
      val d = Files.createTempDirectory("mat_pub").toFile
      files.foreach(new File(d, _).createNewFile())
      d
    }
    val lost = dirWith("part-0")
    Materialize.publish(lost, dirWith("_SUCCESS", "part-0"))
    assert(!lost.exists(), "the losing staging copy is discarded")
    // a non-empty target that is not a complete store is no lost race
    intercept[java.nio.file.FileSystemException](
      Materialize.publish(dirWith("part-0"), dirWith("other")))
  }
}
