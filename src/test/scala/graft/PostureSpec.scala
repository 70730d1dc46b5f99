package graft

import java.nio.file.{Files, Path, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** One session posture and one metrics listener: sessions are built
  * by [[GraftSession]] (plus the mains whose session and environment
  * are an external driver's contract, and the test session), and
  * [[Profile]] is the only `SparkListener`. */
class PostureSpec extends AnyFunSuite {

  private def sources: Seq[(String, String)] = {
    import scala.jdk.CollectionConverters._
    Seq("src/main", "src/test").flatMap { root =>
      val s = Files.walk(Paths.get(root))
      try s.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally s.close()
    }.filterNot(_.getFileName.toString == "PostureSpec.scala")
      .map((p: Path) => p.getFileName.toString -> Files.readString(p))
  }

  test("SparkSession.builder() only in GraftSession and the contract mains") {
    val allowed = Set("GraftSession.scala", "Bench.scala", "Verify.scala",
      "EtlRunner.scala", "SynthCorpus.scala", "SparkSpec.scala")
    val found = sources.collect {
      case (f, text) if !allowed(f) && text.contains("SparkSession.builder()") => f
    }
    assert(sources.size > 100, "source tree not found")
    assert(found.isEmpty, s"build the session with GraftSession: $found")
  }

  test("Profile is the only SparkListener subclass") {
    val listener =
      raw"(extends|with|new)\s+(org\.apache\.spark\.scheduler\.)?SparkListener\b".r
    val found = sources.collect {
      case (f, text) if f != "Profile.scala" && listener.findFirstIn(text).nonEmpty => f
    }
    assert(found.isEmpty, s"count Spark work with Profile.during: $found")
  }
}
