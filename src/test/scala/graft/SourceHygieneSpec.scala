package graft

import org.scalatest.funsuite.AnyFunSuite

/** Guards against accidental source corruption (the advisor finding: a
  * literal NUL inside a string literal makes git treat the whole .scala
  * file as binary, silently bypassing textual diff/review). Fixture
  * bytes below 0x20 belong in \\uXXXX escapes, not raw in the source. */
class SourceHygieneSpec extends AnyFunSuite {

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
    import scala.jdk.CollectionConverters._
    // the staging memos (each keyed on its source fingerprint) and the
    // synthetic d384 corpus, which has no source that could go stale
    val allowed = Map(
      "streaming/StreamOps.scala" ->
        Set("stagedStreamDirs", "footerSchemas", "stagedDocs", "jdbcSinkDbs"),
      "operators/Similarity.scala" -> Set("d384Dirs"))
    val decl = ("""\bval\s+(\w+)\s*(?::[^=]*)?=\s*(?:new\s+)?""" +
      """(?:scala\.collection\.concurrent\.)?TrieMap""").r
    val root = java.nio.file.Paths.get("src/main/scala/graft")
    val st = java.nio.file.Files.walk(root)
    val files = try st.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally st.close()
    val offenders = files.filterNot(_.getFileName.toString == "StoreCatalog.scala")
      .flatMap { p =>
        val rel = root.relativize(p).toString
        val src = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
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
}
