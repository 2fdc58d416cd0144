package graft.perfbench

import java.nio.file.{Files, Path}

import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.{GtexPipeline, Tables}
import graft.etl.GtexEtl
import graft.etl.GtexEtl.EntityGraph
import graft.io.{DatsJsonReader, DatsJsonWriter, EntityStore}
import graft.operators.{DedupOps, SimilarityOps, TextOps}
import graft.query.DatsGen
import graft.sources.ValidatedTsv

/** One op of a pass: a named call sequence into the engine's public
  * functions. `body` runs on the clock; everything an op needs to
  * release afterwards goes in `after`, which does not. */
final case class Op(name: String, body: Ctx => Unit, after: () => Unit = () => ())

/** A benchmark workload: its inputs (untimed), its set-up (timed, the
  * `setup_s` figure), the ops of one pass and the checks on their
  * outputs. */
trait Workload {
  def name: String
  /** Write the inputs; returns their size in bytes. */
  def inputs(work: Path): Long
  /** One set-up repetition; returns the bytes it wrote to files. */
  def setup(rep: Int): Long
  def setupReps: Int
  def ops: Seq[Op]
  /** The pass's op order, drawn from the run's random source. */
  def order(rnd: Random): Seq[Op] = rnd.shuffle(ops)
  /** Check an op's output digests, given every digest of the pass so far
    * (op name -> output key -> (rows, hash)); returns failure messages. */
  def check(op: String, pass: Map[String, Map[String, (Long, String)]]): Seq[String]
  /** Bytes the op wrote to files, for `write_amp` and `output_mb`. */
  def fileBytes(op: String): Long = 0L
  def cleanup(): Unit = ()
}

object Workloads {
  val Names: Seq[String] = Seq("dats_query", "etl_ingest", "llm_ops")

  def apply(name: String, spark: SparkSession, root: Path, seed: Long): Workload = name match {
    case "dats_query" => new DatsQuery(spark)
    case "etl_ingest" => new EtlIngest(spark, root, seed)
    case "llm_ops" => new LlmOps(spark)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (expected one of ${Names.mkString(", ")})")
  }

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum() finally s.close()
    }

  /** The entity tables of a graph, by name. */
  def tables(g: EntityGraph): Seq[(String, DataFrame)] = Seq(
    "datasets" -> g.datasets, "identifiers" -> g.identifiers, "studies" -> g.studies,
    "study_groups" -> g.studyGroups, "group_members" -> g.groupMembers,
    "materials" -> g.materials, "anatomical_parts" -> g.anatomicalParts,
    "characteristics" -> g.characteristics, "dimensions" -> g.dimensions,
    "distributions" -> g.distributions, "data_acquisitions" -> g.dataAcquisitions,
    "diseases" -> g.diseases)

  /** Compare an op's digest with the pinned expectation. */
  def pinned(op: String, pass: Map[String, Map[String, (Long, String)]]): Seq[String] =
    Expected.values.get(op) match {
      case None => Seq(s"$op: no expected output pinned")
      case Some(exp) => pass.get(op).flatMap(_.get(op)) match {
        case Some(got) if got == exp => Nil
        case Some(got) => Seq(s"$op: got ${got._1} rows/${got._2}, expected ${exp._1} rows/${exp._2}")
        case None => Seq(s"$op: produced no output")
      }
    }
}

/** The query half of the reference: the seven canonical DATS queries over
  * direct views and over the bucketed materialized entity tables. */
final class DatsQuery(spark: SparkSession) extends Workload {
  val name = "dats_query"
  private var dir: String = _
  private var work: Path = _
  private var mat: String = _

  def inputs(w: Path): Long = {
    work = w
    val in = w.resolve("star")
    Files.createDirectories(in)
    Inputs.writeDats(spark, in)
    dir = in.toString
    Workloads.dirBytes(in)
  }

  /** One materialize per run: a cold materialize is most of the set-up
    * (~12 s), and a second would not fit the run budget. */
  val setupReps = 1
  def setup(rep: Int): Long = {
    if (mat != null) EntityStore.dropBucketed(spark, mat)
    mat = work.resolve(s"mat$rep").toString
    DatsGen.materialize(spark, dir, mat)
    Workloads.dirBytes(java.nio.file.Paths.get(mat))
  }

  val ops: Seq[Op] = (1 to 7).flatMap { n =>
    Seq(
      Op(s"q${n}_direct", c => {
        val g = c.call("query", "DatsGen.graph")(DatsGen.graph(spark, dir))
        c.call("query", "DatsGen.queryOver")(c.drain(s"q${n}_direct", DatsGen.queryOver(n, g)))
      }),
      Op(s"q${n}_mat", c => {
        val g = c.call("io", "EntityStore.loadBucketed")(EntityStore.loadBucketed(spark, mat))
        c.call("query", "DatsGen.queryOver")(c.drain(s"q${n}_mat", DatsGen.queryOver(n, g)))
      }))
  }

  /** The pinned answer, and direct == materialized once both have run. */
  def check(op: String, pass: Map[String, Map[String, (Long, String)]]): Seq[String] = {
    val q = op.takeWhile(_ != '_')
    val (a, b) = (pass.get(s"${q}_direct").flatMap(_.get(s"${q}_direct")),
      pass.get(s"${q}_mat").flatMap(_.get(s"${q}_mat")))
    Workloads.pinned(op, pass) ++
      (if (a.isDefined && b.isDefined && a != b) Seq(s"$q: direct $a differs from materialized $b")
       else Nil)
  }

  override def cleanup(): Unit = if (mat != null) EntityStore.dropBucketed(spark, mat)
}

/** The ETL half of the reference: validate the portal files, build the
  * entity graph, write and re-read the DATS JSON-LD document, and write
  * the entity tables as parquet. */
final class EtlIngest(spark: SparkSession, root: Path, seed: Long) extends Workload {
  val name = "etl_ingest"
  private var in: GtexEtl.Inputs = _
  private var work: Path = _
  private var counts: Inputs.GtexCounts = _
  private var graph: EntityGraph = _
  private def json = work.resolve("gtex_dats.json")
  private def parquet = work.resolve("entities")

  def inputs(w: Path): Long = {
    work = w
    val d = w.resolve("gtex")
    counts = Inputs.writeGtex(d, root.resolve("src/test/resources/gtex"), seed)
    in = GtexPipeline.inputs(d.toString)
    counts.tsvBytes
  }

  /** Set-up scans the five portal files once, as the first validation
    * of a fresh process would: the file listing and CSV reader warm-up
    * are what a user pays before the ETL proper. */
  val setupReps = 3
  def setup(rep: Int): Long = {
    Seq(in.subjectsPath, in.samplesPath, in.wgsManifestPath, in.rnaseqManifestPath, in.doiPath)
      .foreach(p => spark.read.option("sep", "\t").option("header", "true").csv(p)
        .write.format("noop").mode("overwrite").save())
    0L
  }

  val ops: Seq[Op] = Seq(
    Op("sources.validate", c => c.call("sources", "ValidatedTsv.readStrict") {
      c.drain("subjects",
        ValidatedTsv.readStrict(spark, in.subjectsPath, GtexEtl.subjectSpec, "SUBJID"))
      c.drain("samples",
        ValidatedTsv.readStrict(spark, in.samplesPath, GtexEtl.sampleSpec, "SAMPID"))
    }),
    Op("etl.build", c => c.call("etl", "GtexEtl.build") {
      graph = GtexEtl.build(spark, in)
      Workloads.tables(graph).foreach { case (t, df) => c.drain(s"built.$t", df) }
    }),
    Op("io.json_write", c => c.call("io", "DatsJsonWriter.write")(
      DatsJsonWriter.write(graph, json.toString))),
    Op("io.json_read", c => c.call("io", "DatsJsonReader.read") {
      Workloads.tables(DatsJsonReader.read(spark, json.toString))
        .foreach { case (t, df) => c.drain(s"read.$t", df) }
    }),
    Op("io.parquet_write", c => c.call("io", "EntityStore.save")(
      EntityStore.save(graph, parquet.toString))))

  /** The ETL steps depend on each other, so their order is fixed. */
  override def order(rnd: Random): Seq[Op] = ops

  override def fileBytes(op: String): Long = op match {
    case "io.json_write" => Files.size(json)
    case "io.parquet_write" => Workloads.dirBytes(parquet)
    case _ => 0L
  }

  /** Row counts against what the generator wrote: every subject and
    * sample validates; the graph holds each subject, each sample and one
    * extract per sample, one acquisition per CRAM file and a gs:// plus
    * an s3:// distribution of it. The re-read document must hold the same
    * tables, row for row, as the graph that was written. */
  def check(op: String, pass: Map[String, Map[String, (Long, String)]]): Seq[String] = {
    val d = pass.getOrElse(op, Map.empty)
    def rows(key: String, want: Long): Seq[String] = d.get(key).map(_._1) match {
      case Some(n) if n == want => Nil
      case got => Seq(s"$op: $key has $got rows, the generator implies $want")
    }
    op match {
      case "sources.validate" =>
        rows("subjects", counts.subjects) ++ rows("samples", counts.samples)
      case "etl.build" =>
        rows("built.materials", counts.subjects + 2 * counts.samples) ++
          rows("built.data_acquisitions", counts.files) ++
          rows("built.distributions", 2 * counts.files)
      case "io.json_read" =>
        val built = pass.getOrElse("etl.build", Map.empty)
        Workloads.tables(graph).map(_._1).flatMap { t =>
          (d.get(s"read.$t"), built.get(s"built.$t")) match {
            case (Some(a), Some(b)) if a == b => Nil
            case (a, b) => Seq(s"$op: $t read back as $a, built as $b")
          }
        }
      case _ => Nil
    }
  }
}

/** The iterative similarity, dedup and text operators over the corpus
  * tables. */
final class LlmOps(spark: SparkSession) extends Workload {
  val name = "llm_ops"
  private var dir: String = _
  private var edges: DataFrame = _

  def inputs(w: Path): Long = {
    val in = w.resolve("corpus")
    Files.createDirectories(in)
    Inputs.writeCorpus(spark, in)
    dir = in.toString
    Workloads.dirBytes(in)
  }

  /** Set-up scans the two corpus tables once. */
  val setupReps = 3
  def setup(rep: Int): Long = {
    Seq("documents", "embeddings").foreach(t =>
      Tables.load(spark, dir, t).write.format("noop").mode("overwrite").save())
    0L
  }

  private def releaseEdges(): Unit =
    if (edges != null) { DedupOps.unpersistCheckpoint(edges); edges = null }

  private def drained(name: String, fn: String, f: => DataFrame): Op =
    Op(name, c => c.call("operators", fn)(c.drain(name, f)))

  val ops: Seq[Op] = Seq(
    // the full refined build, kept as a checkpoint for the exemplars op
    Op("sim_knn_graph_refined", c => c.call("operators", "SimilarityOps.knnGraphRefinedEdges") {
      releaseEdges()
      edges = SimilarityOps.knnGraphRefinedEdges(spark, dir).localCheckpoint()
      c.record("sim_knn_graph_refined", edges)
    }),
    // the marginal work over this pass's refined edges
    Op("sim_cluster_exemplars", c => c.call("operators", "SimilarityOps.clusterExemplarsFrom")(
      c.drain("sim_cluster_exemplars",
        SimilarityOps.clusterExemplarsFrom(spark, dir, edges.select(col("ida"), col("idb"))))),
      after = () => releaseEdges()),
    drained("dedup_clusters_star", "DedupOps.nearDupClustersStar",
      DedupOps.nearDupClustersStar(spark, dir)),
    drained("dedup_minhash_lsh", "DedupOps.minhashLsh", DedupOps.minhashLsh(spark, dir)),
    drained("dedup_ngram_jaccard", "DedupOps.ngramJaccard", DedupOps.ngramJaccard(spark, dir)),
    drained("text_cross_source_overlap", "TextOps.crossSourceOverlap",
      TextOps.crossSourceOverlap(spark, dir)),
    drained("sim_ivf_topk", "SimilarityOps.ivfTopK", SimilarityOps.ivfTopK(spark, dir)))

  /** A seeded shuffle, with the exemplars op moved after the refined
    * build it consumes. */
  override def order(rnd: Random): Seq[Op] = {
    val s = rnd.shuffle(ops).toVector
    val (b, e) = (s.indexWhere(_.name == "sim_knn_graph_refined"),
      s.indexWhere(_.name == "sim_cluster_exemplars"))
    if (e < b) s.updated(b, s(e)).updated(e, s(b)) else s
  }

  def check(op: String, pass: Map[String, Map[String, (Long, String)]]): Seq[String] =
    Workloads.pinned(op, pass)

  override def cleanup(): Unit = releaseEdges()
}
