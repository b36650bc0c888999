package graft

import org.scalatest.funsuite.AnyFunSuite

/** A Scala `Map(...)` literal with a duplicated key silently keeps the
  * LAST entry — so a query accidentally declared twice within one module
  * would silently shadow the original, shrink the registry, and weaken
  * the correctness gate without any error (the cross-module `require` in
  * SparkEntry only catches duplicates BETWEEN modules). This spec scans
  * the source tree for `"name" -> QuerySpec` declarations and asserts
  * every declared name is unique across the whole tree, and that the
  * runtime registry carries exactly the declared set. The same source
  * scan guards the one-install rule, the action-free loop widths and the
  * one fault harness. */
class RegistryDupSpec extends AnyFunSuite {

  private def scalaSources(dir: java.io.File): Seq[java.io.File] =
    Option(dir.listFiles()).toSeq.flatten.flatMap { f =>
      if (f.isDirectory) scalaSources(f)
      else if (f.getName.endsWith(".scala")) Seq(f) else Seq.empty
    }

  test("no query name is declared twice anywhere in the source tree") {
    val decl = raw""""([A-Za-z0-9_]+)"\s*->\s*QuerySpec\(""".r
    val found = scalaSources(new java.io.File("src/main/scala"))
      .flatMap { f =>
        val text = java.nio.file.Files.readString(f.toPath)
        decl.findAllMatchIn(text).map(m => (m.group(1), f.getPath)).toSeq
      }
    val dups = found.groupBy(_._1).filter(_._2.size > 1)
    assert(dups.isEmpty,
      s"duplicated query declarations: ${dups.map { case (n, fs) =>
        s"$n (${fs.map(_._2).mkString(", ")})" }.mkString("; ")}")
    // Declared set == runtime registry (nothing shadowed, nothing lost).
    assert(found.map(_._1).toSet == SparkEntry.queries.keySet)
  }

  test("the engine is installed in one place: Graft.install, called only by Graft.query") {
    val sources = scalaSources(new java.io.File("src/main/scala")) ++
      scalaSources(new java.io.File("src/test/scala"))
    def mentioning(needle: String, among: Seq[java.io.File]): Seq[String] =
      among.filter(f => java.nio.file.Files.readString(f.toPath).contains(needle))
        .map(_.getName)
    // Split so this file does not match itself.
    assert(mentioning("GraftFunctions." + "register", sources).isEmpty)
    val main = scalaSources(new java.io.File("src/main/scala"))
    assert(mentioning("Graft.install(", main).forall(_ == "Graft.scala"))
    assert(mentioning("extraStrategies", main) === Seq("Graft.scala"))
  }

  test("no StreamWidth.forRows call sizes its width with a count() action") {
    // A loop width comes from a count its materialization already observed
    // (Checkpoints.materialize), never from a second action over the frame.
    val call = "StreamWidth.forRows("
    val args = scalaSources(new java.io.File("src/main/scala")).flatMap { f =>
      val text = java.nio.file.Files.readString(f.toPath)
      Iterator.iterate(text.indexOf(call))(i => text.indexOf(call, i + 1))
        .takeWhile(_ >= 0).map { i =>
          val open = i + call.length
          val close = Iterator.iterate((open, 1)) { case (j, depth) =>
            (j + 1, text(j) match {
              case '(' => depth + 1
              case ')' => depth - 1
              case _ => depth
            })
          }.dropWhile(_._2 > 0).next()._1
          (f.getName, text.substring(open, close - 1))
        }.toSeq
    }
    assert(args.size >= 5, s"expected the loop-width call sites, found $args")
    val counted = args.filter(_._2.contains(".count()"))
    assert(counted.isEmpty, s"width sized by a count() action: $counted")
  }

  test("executor kills and FAULTS outputs live only in the fault harness") {
    def containing(dir: String, pattern: scala.util.matching.Regex): Seq[String] =
      scalaSources(new java.io.File(dir))
        .filter(f => pattern.findFirstIn(java.nio.file.Files.readString(f.toPath)).isDefined)
        .map(_.getName)
    // Both spellings of the signal: prose and a process argument list.
    assert(containing("src/main/scala", """kill"?,?\s*"?-9|pgrep|SparkListenerExecutorRemoved""".r) ===
      Seq("FaultInject.scala"))
    assert(containing("src/main/scala/graft/tools", "FAULTS".r) === Seq("FaultInject.scala"))
  }
}
