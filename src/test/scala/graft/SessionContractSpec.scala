package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Using

import org.scalatest.funsuite.AnyFunSuite

/** Every session in the repo comes from `Bench.sessionWith`: a copied
  * builder drifts from the bench config, and numbers measured under a
  * drifted copy have misled optimization work before. Source scan only —
  * no session, no Spark job. */
class SessionContractSpec extends AnyFunSuite {
  // split so that this file is not itself a match
  private val needle = "SparkSession" + ".builder"

  test("the session builder is called once, in Bench.scala") {
    val sites = Seq("src/main/scala", "src/test/scala").flatMap { root =>
      val dir = Paths.get(root)
      require(Files.isDirectory(dir), s"$root not found under ${sys.props("user.dir")}")
      Using.resource(Files.walk(dir))(_.iterator().asScala
        .filter(_.toString.endsWith(".scala")).toList)
        .flatMap { p =>
          Files.readAllLines(p).asScala.zipWithIndex.collect {
            case (line, i) if line.contains(needle) => s"$p:${i + 1}"
          }
        }
    }
    assert(sites.size == 1 && sites.head.startsWith("src/main/scala/graft/Bench.scala:"),
      s"$needle sites: ${sites.mkString(", ")}")
  }
}
