package graft

/** Graft's own options stay few: every `spark.graft.*` key the engine
  * reads is listed here, and only the benchmark, oracle and tool mains
  * read environment variables. A new option has to be added to this
  * list on purpose; a knob nobody sets should be deleted instead.
  */
class OptionLintSpec extends org.scalatest.funsuite.AnyFunSuite {

  private val Options = Set(
    "columnar.enabled", "swap.recoveryGraceMs",
    "jdbc.url", "jdbc.user", "jdbc.password")

  private val root = new java.io.File("src/main/scala/graft")

  /** (path relative to `root`, lines) of every main source file. */
  private def sources(): Seq[(String, List[String])] = {
    def files(d: java.io.File): Seq[java.io.File] = d.listFiles().toSeq.flatMap { f =>
      if (f.isDirectory) files(f) else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    }
    files(root).map { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try root.toPath.relativize(f.toPath).toString -> src.getLines().toList
      finally src.close()
    }
  }

  test("source lint: the engine reads only graft's five spark.graft options") {
    assume(root.isDirectory, "source tree not available")
    val key = "\"spark\\.graft\\.([A-Za-z0-9_.]*[A-Za-z0-9_])".r
    val found = sources().flatMap { case (_, lines) =>
      lines.flatMap(l => key.findAllMatchIn(l).map(_.group(1)))
    }.toSet
    assert(found === Options,
      s"added: ${(found -- Options).toSeq.sorted}, gone: ${(Options -- found).toSeq.sorted}")
  }

  test("source lint: no environment read outside Bench, ScaleBench, Verify and tools/") {
    assume(root.isDirectory, "source tree not available")
    val allowed = Set("Bench.scala", "ScaleBench.scala", "Verify.scala")
    val offenders = sources().flatMap { case (path, lines) =>
      if (allowed(path) || path.startsWith("tools/")) Nil
      else lines.zipWithIndex.collect {
        case (l, i) if l.contains("sys.env") || l.contains("System.getenv") =>
          s"$path:${i + 1}: $l"
      }
    }
    assert(offenders.isEmpty,
      "engine behaviour is set through session confs, not the environment:\n" +
        offenders.mkString("\n"))
  }
}
