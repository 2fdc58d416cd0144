package graft.perfbench

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.util.Random

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

import graft.etl.GtexEtl

/** Seeded input generators. Every input the benchmark feeds the engine is
  * written here, into the run's work directory, so a run reads nothing
  * but its own files and the same seed always yields the same bytes.
  *
  * Sizes, and why:
  *  - The star-schema tables use the sf0.01 shape of the engine's synthetic
  *    test data (1,500 customers, 15,000 orders, ~60k line items, 500
  *    documents, 500 embeddings). At local[4] the DATS queries and the
  *    similarity operators are bound by per-job overhead at this size:
  *    sf0.001 and sf0.01 passes take the same time, while an sf0.1 pass
  *    (~25 s warm) would not fit the run budget.
  *  - The GTEx portal files default to 400 subjects x 10 samples, a tenth
  *    of the 2,000 x 20 reference-sized instance, whose driver-side JSON-LD
  *    document tree takes 2.6-4 GB of heap; the validate, build and write
  *    steps still scan thousands of rows.
  */
object Inputs {

  /** Seed of the star-schema tables. It is fixed, not the run's seed, so
    * the expected outputs of the DATS and operator workloads can be pinned
    * (see [[Expected]]). */
  val StarSeed = 42L

  final case class StarScale(customers: Int, orders: Int, parts: Int,
      suppliers: Int, documents: Int, embeddings: Int)
  val Sf001 = StarScale(customers = 1500, orders = 15000, parts = 2000,
    suppliers = 100, documents = 500, embeddings = 500)

  private val Regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  private val Segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val Priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val Words = Seq("a", "agg", "batch", "big", "column", "customer", "data",
    "fast", "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark", "stream",
    "table", "the", "value", "vector", "window")
  private val Langs = Seq("en", "en", "en", "es", "zh", "de", "fr")
  private val Day = 86400000L
  private val Epoch1995 = 788918400000L // 1995-01-01T00:00:00Z

  private def write(spark: SparkSession, dir: Path, name: String,
      schema: StructType, rows: Seq[Row]): Unit =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
      .write.mode("overwrite").parquet(dir.resolve(s"$name.parquet").toString)

  private def f(name: String, t: DataType) = StructField(name, t, nullable = true)
  private def money(r: Random, lo: Double, hi: Double): Double =
    math.round((lo + r.nextDouble() * (hi - lo)) * 100) / 100.0
  private def ts(ms: Long) = new java.sql.Timestamp(ms)

  /** region, nation, customer, orders and lineitem: the tables the DATS
    * entity graph ([[graft.query.DatsGen]]) derives from. */
  def writeDats(spark: SparkSession, dir: Path, sc: StarScale = Sf001): Unit = {
    val r = new Random(StarSeed)
    write(spark, dir, "region", StructType(Seq(f("r_regionkey", IntegerType), f("r_name", StringType))),
      Regions.zipWithIndex.map { case (n, i) => Row(i, n) })
    write(spark, dir, "nation", StructType(Seq(f("n_nationkey", IntegerType),
      f("n_name", StringType), f("n_regionkey", IntegerType))),
      (0 until 25).map(i => Row(i, s"NATION_$i", i % 5)))
    write(spark, dir, "customer", StructType(Seq(f("c_custkey", LongType), f("c_name", StringType),
      f("c_nationkey", IntegerType), f("c_acctbal", DoubleType), f("c_mktsegment", StringType))),
      (0 until sc.customers).map(i => Row(i.toLong, f"Customer#$i%09d", r.nextInt(25),
        money(r, -999.99, 9999.99), Segments(r.nextInt(Segments.size)))))
    val orderRows = (0 until sc.orders).map(i => Row(i.toLong, r.nextInt(sc.customers).toLong,
      Seq("F", "O", "P")(r.nextInt(3)), money(r, 1000, 500000),
      ts(Epoch1995 + r.nextInt(2400) * Day), Priorities(r.nextInt(Priorities.size))))
    write(spark, dir, "orders", StructType(Seq(f("o_orderkey", LongType), f("o_custkey", LongType),
      f("o_orderstatus", StringType), f("o_totalprice", DoubleType),
      f("o_orderdate", TimestampType), f("o_orderpriority", StringType))), orderRows)
    val lineRows = (0 until sc.orders).flatMap { o =>
      (1 to 1 + r.nextInt(7)).map { line =>
        val qty = 1 + r.nextInt(50)
        Row(o.toLong, r.nextInt(sc.parts).toLong, r.nextInt(sc.suppliers).toLong, line,
          qty.toDouble, money(r, 900.0 * qty / 50 + 900, 2100.0 * qty),
          r.nextInt(11) / 100.0, r.nextInt(9) / 100.0,
          Seq("A", "N", "R")(r.nextInt(3)), Seq("F", "O")(r.nextInt(2)),
          ts(Epoch1995 + (1 + r.nextInt(2500)) * Day))
      }
    }
    write(spark, dir, "lineitem", StructType(Seq(f("l_orderkey", LongType), f("l_partkey", LongType),
      f("l_suppkey", LongType), f("l_linenumber", IntegerType), f("l_quantity", DoubleType),
      f("l_extendedprice", DoubleType), f("l_discount", DoubleType), f("l_tax", DoubleType),
      f("l_returnflag", StringType), f("l_linestatus", StringType), f("l_shipdate", TimestampType))),
      lineRows)
  }

  /** documents and embeddings: the corpus tables of the similarity, dedup
    * and text operators. One document in twenty is a planted near
    * duplicate (an earlier document plus one word), as in the engine's
    * test corpus. */
  def writeCorpus(spark: SparkSession, dir: Path, sc: StarScale = Sf001): Unit = {
    val r = new Random(StarSeed + 1)
    val texts = new Array[String](sc.documents)
    val docRows = (0 until sc.documents).map { i =>
      texts(i) =
        if (i > 10 && r.nextInt(20) == 0) texts(r.nextInt(i)) + " dup"
        else Seq.fill(10 + r.nextInt(90))(Words(r.nextInt(Words.size))).mkString(" ")
      Row(i.toLong, texts(i), Langs(r.nextInt(Langs.size)), s"src${r.nextInt(20)}",
        texts(i).length.toLong)
    }
    write(spark, dir, "documents", StructType(Seq(f("doc_id", LongType), f("text", StringType),
      f("lang", StringType), f("source", StringType), f("n_chars", LongType))), docRows)
    val embRows = (0 until sc.embeddings).map { i =>
      val v = Array.fill(64)(r.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      Row(i.toLong, v.map(x => (x / n).toFloat).toSeq, r.nextInt(10))
    }
    write(spark, dir, "embeddings", StructType(Seq(f("vec_id", LongType),
      f("embedding", ArrayType(FloatType, containsNull = true)), f("label", IntegerType))), embRows)
  }

  /** What the GTEx generator produced, for the read-back check. */
  final case class GtexCounts(subjects: Long, samples: Long, files: Long, tsvBytes: Long)

  private val Tissues = Seq(
    ("Blood", "Whole Blood", "0000178"), ("Brain", "Brain - Cortex", "0001870"),
    ("Lung", "Lung", "0008952"), ("Liver", "Liver", "0001114"),
    ("Muscle", "Muscle - Skeletal", "0011907"), ("Skin", "Skin - Sun Exposed (Lower leg)", "0004264"),
    ("Heart", "Heart - Left Ventricle", "0006566"), ("Thyroid", "Thyroid", "0002046"),
    ("Nerve", "Nerve - Tibial", "0001323"), ("Adipose", "Adipose - Subcutaneous", "0002190"),
    ("Cells", "Cells - EBV-transformed lymphocytes", "EFO_0000572"))
  private val Centers = Seq("B1", "C1", "D1", "B1, A1", "C1, A1", "D1, A1")

  /** GTEx portal inputs: subject phenotypes, sample attributes, the WGS and
    * RNA-Seq CRAM manifests and the DOI manifest, all drawn from `seed`
    * and all passing every rule of [[GtexEtl.subjectSpec]],
    * [[GtexEtl.sampleSpec]], [[GtexEtl.manifestSpec]] and
    * [[GtexEtl.doiSpec]]. The dbGaP dictionary, var report and study scrape
    * are copied from the engine's GTEx fixtures. Returns the input paths as
    * [[graft.GtexPipeline.inputs]] lays them out. */
  def writeGtex(dir: Path, fixtures: Path, seed: Long,
      subjects: Int = 400, samplesPerSubject: Int = 10): GtexCounts = {
    val r = new Random(seed)
    Files.createDirectories(dir.resolve("dbgap_dir"))
    Seq("phs000424.v7.pht002742.v7.p2.GTEx_Subject.data_dict.xml", "dbgap_studies.txt",
      "dbgap_dir/phs000424.v7.pht002742.v7.p2.GTEx_Subject.var_report.xml").foreach(n =>
      Files.copy(fixtures.resolve(n), dir.resolve(n), StandardCopyOption.REPLACE_EXISTING))
    def hex(n: Int) = Seq.fill(n)("0123456789abcdef"(r.nextInt(16))).mkString
    val subj = new StringBuilder("SUBJID\tSEX\tAGE\tDTHHRDY\n")
    val samp = new StringBuilder(
      "SAMPID\tSMATSSCR\tSMCENTER\tSMTS\tSMTSD\tSMUBRID\tSMNABTCHT\tSMAFRZE\tSMRIN\tSMMAPRT\tSMGNSDTC\n")
    val manifestHeader = "sample_id\tcram_file_gcp\tcram_index_gcp\tcram_file_aws\t" +
      "cram_index_aws\tcram_file_md5\tcram_file_size\tcram_index_md5"
    val wgs = new StringBuilder(manifestHeader + "\tfirecloud_id\n")
    val rna = new StringBuilder(manifestHeader + "\n")
    val doi = new StringBuilder("sample_id\tSodium_GUID_cram\tSodium_GUID_crai\n")
    var nSamples, nFiles = 0L
    // base-36 ids drawn without replacement keep SUBJID unique
    val ids = r.shuffle((0 until subjects * 4).toVector).take(subjects)
    ids.foreach { k =>
      val sid = s"GTEX-${Integer.toString(46656 + k, 36).toUpperCase}"
      val hardy = r.nextInt(6)
      subj ++= s"$sid\t${1 + r.nextInt(2)}\t${graft.model.Dats.Vocab.AgeRanges(r.nextInt(6))}\t" +
        s"${if (hardy == 5) "" else hardy.toString}\n"
      (1 to samplesPerSubject).foreach { j =>
        val (smts, smtsd, uberon) = Tissues(r.nextInt(Tissues.size))
        val rnaSample = r.nextInt(3) != 0
        val sampId = f"$sid-$j%04d-SM-${Integer.toString(r.nextInt(1 << 20), 36).toUpperCase}"
        val kind = if (rnaSample) "rnaseq" else "wgs"
        val batch = if (rnaSample) s"RNA isolation_PAXgene $smts" else s"DNA isolation_$smtsd"
        val rin = if (rnaSample) f"${5 + r.nextInt(50) / 10.0}%.1f" else ""
        samp ++= s"$sampId\t${if (r.nextInt(4) == 0) "" else r.nextInt(4).toString}\t" +
          s"${Centers(r.nextInt(Centers.size))}\t$smts\t$smtsd\t$uberon\t$batch\t" +
          s"${if (rnaSample) "RNASEQ" else "WGS"}\t$rin\t" +
          s"${if (rnaSample) f"0.${90 + r.nextInt(10)}" else ""}\t" +
          s"${if (rnaSample) (15000 + r.nextInt(10000)).toString else ""}\n"
        nSamples += 1
        // four in five samples were sequenced; every sequenced file has DOIs
        if (r.nextInt(5) != 0) {
          val stem = s"gtex/$kind/$sampId"
          val row = s"$sampId\tgs://$stem.cram\tgs://$stem.crai\ts3://$stem.cram\t" +
            s"s3://$stem.crai\t${hex(32)}\t${1000000 + r.nextInt(Int.MaxValue - 1000000)}\t${hex(32)}"
          if (rnaSample) rna ++= row + "\n" else wgs ++= row + s"\tfc-${hex(8)}\n"
          doi ++= s"$sampId\thttps://doi.org/10.1000/$kind-$sampId\t" +
            s"https://doi.org/10.1000/$kind-$sampId-crai\n"
          nFiles += 1
        }
      }
    }
    val in = graft.GtexPipeline.inputs(dir.toString)
    val files = Seq(in.subjectsPath -> subj, in.samplesPath -> samp,
      in.wgsManifestPath -> wgs, in.rnaseqManifestPath -> rna, in.doiPath -> doi)
    files.foreach { case (p, sb) => Files.writeString(java.nio.file.Paths.get(p), sb) }
    GtexCounts(subjects.toLong, nSamples, nFiles,
      files.map { case (p, _) => Files.size(java.nio.file.Paths.get(p)) }.sum)
  }
}
