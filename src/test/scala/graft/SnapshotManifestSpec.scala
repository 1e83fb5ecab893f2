package graft

import graft.sources.{GraftMor, SnapshotManifest}

/** The snapshot manifest's one reader and one writer: a body read and
  * rendered again is the same bytes, every line lands in its typed
  * field, and the completeness rules are properties of the parsed
  * value. A source lint keeps the body's markers, the `_snapshots`
  * path rule and the stats lines inside their owners.
  */
class SnapshotManifestSpec extends org.scalatest.funsuite.AnyFunSuite {

  /** A body in the exact form `publishSnapshot` wrote before this
    * module existed: data lines, all three sidecar flavours, the
    * evolved schema, the stats section and the terminator.
    */
  private val published = Seq(
    "rootIsDir=true",
    "#publishedAt\t1760000000123",
    "4096\tfile:/wh/db/t.parquet/part-00000-a.snappy.parquet",
    "2048\tfile:/wh/db/t.parquet/k=1/part-00001-b.snappy.parquet",
    "#sidecar\tdv\t512\tfile:/wh/db/t.parquet/_dv/epoch=1/part-00000-c.parquet",
    "#sidecar\teq\t640\tfile:/wh/db/t.parquet/_eq/epoch=2/part-00000-d.parquet",
    "#sidecar\tseqm\t320\tfile:/wh/db/t.parquet/_seqm/part-00000-e.parquet",
    "#schema\tid BIGINT,name STRING,k BIGINT",
    "#rgf\t4096\tfile:/wh/db/t.parquet/part-00000-a.snappy.parquet",
    "#rg\t100\t4\t2000\tid=n:1:100:0;name=s:YQ==:eg==:3",
    "#rg\t50\t2004\t1900\tid=n:101:150:0;name=-:?",
    "#rgf\t2048\tfile:/wh/db/t.parquet/k=1/part-00001-b.snappy.parquet",
    "#rg\t20\t4\t1800\tid=n:151:170:2",
    "#complete").mkString("\n")

  test("render(read(body)) reproduces a published body byte for byte") {
    val m = SnapshotManifest.parse(published)
    assert(SnapshotManifest.render(m) === published)
    assert(m.rootIsDir && m.publishedAt.contains(1760000000123L))
    assert(m.files === Seq(
      "file:/wh/db/t.parquet/part-00000-a.snappy.parquet" -> 4096L,
      "file:/wh/db/t.parquet/k=1/part-00001-b.snappy.parquet" -> 2048L))
    assert(m.sidecars === GraftMor.Sidecars(
      Seq("file:/wh/db/t.parquet/_dv/epoch=1/part-00000-c.parquet" -> 512L),
      Seq("file:/wh/db/t.parquet/_eq/epoch=2/part-00000-d.parquet" -> 640L),
      Seq("file:/wh/db/t.parquet/_seqm/part-00000-e.parquet" -> 320L),
      Some("id BIGINT,name STRING,k BIGINT")))
    assert(m.statsLines.size === 5 && m.complete && !m.torn && m.recordsSidecars)
    val stats = m.stats
    assert(stats.keySet === m.paths.toSet)
    assert(stats(m.paths.head).rgs.map(_.rowCount).toSeq === Seq(100L, 50L))
    assert(stats(m.paths(1)).rgs.head.cols("id").nulls === Some(2L))
  }

  test("legacy and torn bodies: what each completeness rule sees") {
    // written before instants, sidecars, stats and the terminator
    val legacy = "rootIsDir=false\n10\t/wh/t.parquet"
    val old = SnapshotManifest.parse(legacy)
    assert(SnapshotManifest.render(old) === legacy)
    assert(old.files === Seq("/wh/t.parquet" -> 10L) && !old.rootIsDir)
    assert(old.publishedAt.isEmpty && !old.recordsSidecars)
    // whole for the catalog, not complete for live planning
    assert(!old.torn && !old.complete)
    // stats lines without the terminator: in flight or crashed
    val cut = published.split("\n").dropRight(1).mkString("\n")
    val torn = SnapshotManifest.parse(cut)
    assert(SnapshotManifest.render(torn) === cut)
    assert(torn.torn && !torn.complete)
  }

  test("a body cut at any byte parses, is never complete, and is torn once cut inside a line or after a stats line") {
    (0 until published.length).foreach { k =>
      val m = SnapshotManifest.parse(published.take(k))
      assert(!m.complete, s"prefix of $k bytes")
      if (m.statsLines.nonEmpty) assert(m.torn, s"prefix of $k bytes")
    }
    // cut after a data or sidecar line's marker but before its path
    // begins: the line does not decode
    Seq("\n" -> "4096\t", "\n#sidecar\t" -> "dv\t512\t").foreach { case (head, fields) =>
      val at = published.indexOf(head + fields) + head.length
      (at + 1 to at + fields.length).foreach { k =>
        val m = SnapshotManifest.parse(published.take(k))
        assert(m.cutShort && m.torn, s"prefix of $k bytes")
      }
    }
    assert(SnapshotManifest.parse("").torn)
  }

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

  /** Lines outside `owner` on which `pattern` matches. */
  private def outside(owner: String, pattern: scala.util.matching.Regex): Seq[String] =
    sources().flatMap { case (path, lines) =>
      if (path == owner) Nil
      else lines.zipWithIndex.collect {
        case (l, i) if pattern.findFirstIn(l).isDefined => s"$path:${i + 1}: $l"
      }
    }

  test("source lint: the manifest format, the stats lines and the small-file read each have one owner") {
    assume(root.isDirectory, "source tree not available")
    // a marker inside a string literal: a quote, then non-quote
    // characters, then the marker
    def literal(markers: String*) =
      markers.map(java.util.regex.Pattern.quote).mkString("\"[^\"]*(?:", "|", ")").r
    val manifest = "sources/SnapshotManifest.scala"
    val offenders =
      outside(manifest, literal("#complete", "#sidecar", "#schema",
        "#publishedAt", "rootIsDir=")) ++
      // the manifest directory named in a path literal, or spliced in
      outside(manifest, """"(?:[^"]*/)?_snapshots""".r) ++
      outside(manifest, """\$\{?[\w.]*SnapshotDir\b""".r) ++
      outside("sources/v2/GraftPlanStats.scala", literal("#rgf", "#rg")) ++
      outside("sources/GraftIO.scala", """IOUtils\.copyBytes""".r)
    assert(offenders.isEmpty,
      "the manifest body and path rule belong to SnapshotManifest, the " +
        "stats lines to GraftPlanStats, the small-file read to " +
        "GraftIO.readText:\n" + offenders.mkString("\n"))
  }
}
