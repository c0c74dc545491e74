package graft

import graft.engine.PublishGuard
import org.scalatest.funsuite.AnyFunSuite

/** The one in-JVM memo ([[PublishGuard.once]]/[[PublishGuard.forget]])
  * and the rule that keeps it the only one. Families are spec-unique so
  * the cases never touch the engine's own artifact families.
  */
class PublishGuardSpec extends AnyFunSuite {

  test("nested once calls on keys sharing a hash bin return without a Recursive update") {
    // equal String.hashCode ⇒ the same ConcurrentHashMap bin: a nested
    // computeIfAbsent on these two keys throws "Recursive update"
    assert("Aa".hashCode == "BB".hashCode)
    val fam = "spec_nested"
    val outer = PublishGuard.once(fam, "Aa") {
      PublishGuard.once(fam, "BB")("inner") + "+outer"
    }
    assert(outer == "inner+outer")
    assert(PublishGuard.once(fam, "BB")("rebuilt") == "inner")
    assert(PublishGuard.once(fam, "Aa")("rebuilt") == "inner+outer")
    PublishGuard.forget(fam)
  }

  test("a build that throws is not memoized: the next call builds again") {
    val fam = "spec_throwing"
    var builds = 0
    val err = intercept[IllegalStateException] {
      PublishGuard.once[String](fam, "k") {
        builds += 1
        throw new IllegalStateException("build failed")
      }
    }
    assert(err.getMessage == "build failed")
    assert(PublishGuard.once(fam, "k") { builds += 1; "ok" } == "ok")
    assert(builds == 2)
    assert(PublishGuard.once(fam, "k") { builds += 1; "again" } == "ok")
    assert(builds == 2, "a memoized value must not rebuild")
    PublishGuard.forget(fam)
  }

  test("forget drops only the named family") {
    val (a, b) = ("spec_forget_a", "spec_forget_b")
    PublishGuard.once(a, "k")(1)
    PublishGuard.once(b, "k")(2)
    PublishGuard.forget(a)
    assert(PublishGuard.once(a, "k")(10) == 10, "forgotten family rebuilds")
    assert(PublishGuard.once(b, "k")(20) == 2, "other family keeps its value")
    PublishGuard.forget(a, b)
  }

  test("the PublishGuard memo and OpCache's registry are the only ConcurrentHashMaps") {
    val allowed = Set(
      "src/main/scala/graft/engine/PublishGuard.scala",
      "src/main/scala/graft/engine/OpCache.scala")
    def scalaFiles(dir: java.io.File): Seq[java.io.File] =
      Option(dir.listFiles()).toSeq.flatten.flatMap { f =>
        if (f.isDirectory) scalaFiles(f)
        else if (f.getName.endsWith(".scala")) Seq(f)
        else Nil
      }
    val files = scalaFiles(new java.io.File("src/main/scala"))
    // the scan must see the code it guards
    assert(files.exists(_.getPath == "src/main/scala/graft/SparkEntry.scala"))
    assert(files.exists(_.getPath.startsWith("src/main/scala/graft/operators/")))
    val offenders = files.filterNot(f => allowed(f.getPath)).filter { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.mkString.contains("ConcurrentHashMap") finally src.close()
    }.map(_.getPath)
    assert(offenders.isEmpty,
      "memoize through PublishGuard.once instead of a ConcurrentHashMap: " +
        offenders.sorted.mkString(", "))
  }
}
