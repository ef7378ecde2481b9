package graft

import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** Source ↔ design contract: every program session comes from ONE
  * factory (`graft.jobs.Jobs.session`, which sets the static confs the
  * engine depends on), and every per-session memo is a namespace of
  * ONE registry (`graft.engine.SessionMemo`, whose single `clear` is
  * the cold reset). Reads the sources the way DocsSpec reads docs. */
class SessionFactorySpec extends AnyFunSuite {

  private val sources: Map[String, String] = {
    val paths = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main"))
    try paths.iterator.asScala.filter(_.toString.endsWith(".scala"))
      .map(p => p.toString -> new String(
        java.nio.file.Files.readAllBytes(p), "UTF-8")).toMap
    finally paths.close()
  }

  test("src/main builds sessions only in Jobs.session") {
    val sites = sources.toSeq.flatMap { case (p, s) =>
      Seq.fill("SparkSession.builder()".r.findAllIn(s).size)(p)
    }
    assert(sites == Seq("src/main/scala/graft/jobs/Jobs.scala"))
  }

  test("src/main keeps per-session memos only in SessionMemo") {
    val memo = """LinkedHashMap[\s\S]{0,40}\(SparkSession""".r
    val owners = sources.collect {
      case (p, s) if memo.findFirstIn(s).nonEmpty => p
    }.toSet
    assert(owners == Set("src/main/scala/graft/engine/SessionMemo.scala"))
  }
}
