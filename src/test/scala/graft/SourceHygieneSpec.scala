package graft

import org.scalatest.funsuite.AnyFunSuite

/** Guards against accidental source corruption (the advisor finding: a
  * literal NUL inside a string literal makes git treat the whole .scala
  * file as binary, silently bypassing textual diff/review). Fixture
  * bytes below 0x20 belong in \\uXXXX escapes, not raw in the source. */
class SourceHygieneSpec extends AnyFunSuite {

  /** Every src/main source: (path relative to src/main/scala/graft, text). */
  private def mainSources: List[(String, String)] = {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala/graft")
    val st = java.nio.file.Files.walk(root)
    val files = try st.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally st.close()
    files.map(p => root.relativize(p).toString ->
      new String(java.nio.file.Files.readAllBytes(p), "UTF-8"))
  }

  test("no .scala source contains non-printable bytes (except \\t \\n \\r)") {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src")
    val offenders = java.nio.file.Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .flatMap { p =>
        val bytes = java.nio.file.Files.readAllBytes(p)
        val bad = bytes.indices.filter { i =>
          val b = bytes(i) & 0xff
          b < 9 || (b > 13 && b < 32)
        }
        if (bad.isEmpty) None
        else Some(s"$p: byte ${bytes(bad.head) & 0xff} at offset ${bad.head}")
      }
      .toList
    assert(offenders.isEmpty, offenders.mkString("; "))
  }

  test("src/main holds no store memo outside StoreCatalog") {
    // the staging memos (each keyed on its source fingerprint) and the
    // synthetic d384 corpus, which has no source that could go stale
    val allowed = Map(
      "streaming/StreamOps.scala" ->
        Set("stagedStreamDirs", "footerSchemas", "stagedDocs", "jdbcSinkDbs"),
      "operators/Similarity.scala" -> Set("d384Dirs"))
    val decl = ("""\bval\s+(\w+)\s*(?::[^=]*)?=\s*(?:new\s+)?""" +
      """(?:scala\.collection\.concurrent\.)?TrieMap""").r
    val offenders = mainSources.filterNot(_._1 == "StoreCatalog.scala")
      .flatMap { case (rel, src) =>
        val declared = decl.findAllMatchIn(src).map(m => m.end -> m.group(1)).toMap
        "TrieMap".r.findAllMatchIn(src).map(_.end).toList.flatMap { end =>
          declared.get(end) match {
            case Some(name) if allowed.getOrElse(rel, Set.empty)(name) => None
            case Some(name) => Some(s"$rel: TrieMap memo `$name`")
            case None =>
              Some(s"$rel: TrieMap outside a declaration at offset $end")
          }
        }
      }
    assert(offenders.isEmpty, offenders.mkString("; "))
  }

  test("no spec makes a temp dir outside graft.Scratch") {
    import scala.jdk.CollectionConverters._
    // a JDK temp dir outlives the test JVM; Scratch.dir is deleted on exit
    val call = "Files." + "createTempDirectory"
    val root = java.nio.file.Paths.get("src/test")
    val st = java.nio.file.Files.walk(root)
    val files = try st.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally st.close()
    val offenders = files.flatMap { p =>
      val lines = java.nio.file.Files.readAllLines(p).asScala
      lines.zipWithIndex.collect {
        case (l, i) if l.contains(call) => s"$p:${i + 1}"
      }
    }
    assert(offenders.isEmpty, offenders.mkString("; "))
  }

  test("no limit(cap + 1).collect() probe in src/main outside DriverCap") {
    // a driver-or-distributed choice probes through DriverCap.collect:
    // one job, not an incremental take
    val probe = """\.limit\([^;\n]*\+\s*1\s*\)\s*\.collect\(""".r
    val offenders = mainSources.filterNot(_._1 == "operators/DriverCap.scala")
      .flatMap { case (rel, src) =>
        probe.findAllMatchIn(src).map(m => s"$rel: ${m.matched}")
      }
    assert(offenders.isEmpty, offenders.mkString("; "))
  }

  test("def main in src/main only in the runnable entry points") {
    val allowed = Set("Verify.scala", "Bench.scala", "ScaleProbe.scala",
      "RecallProbe.scala", "CalibrateJaccard.scala")
    val offenders = mainSources.collect {
      case (rel, src) if """\bdef\s+main\s*\(""".r.findFirstIn(src).isDefined &&
        !allowed(rel) => rel
    }
    assert(offenders.isEmpty, offenders.mkString("; "))
  }
}
