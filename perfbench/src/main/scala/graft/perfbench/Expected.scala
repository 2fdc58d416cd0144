package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** The pinned outputs of the DATS and operator ops: `op <TAB> rows <TAB>
  * hash` lines in `perfbench/expected.tsv`. They were taken from a tree
  * whose outputs on the same generated inputs match the DuckDB oracle
  * (see perfbench/NOTES.md, "Pinning"). */
object Expected {
  val File: Path = Paths.get("perfbench", "expected.tsv")

  lazy val values: Map[String, (Long, String)] = parse(File)

  def parse(p: Path): Map[String, (Long, String)] =
    if (!Files.exists(p)) Map.empty
    else Files.readAllLines(p).asScala.toSeq
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(_.split("\t")).map(a => a(0) -> (a(1).toLong, a(2))).toMap
}
