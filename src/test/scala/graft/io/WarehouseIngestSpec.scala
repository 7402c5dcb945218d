package graft.io

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.{SparkEntry, TestSpark}

/** Warehouse ingest loaders for the remaining §1.2 tables (reference
  * `postgres.Rmd:889-977,1264-1360,2279-2468`) — goldens hand-checked
  * against the reference's read→rename→mutate recipes. */
class WarehouseIngestSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("cleanName mirrors janitor::clean_names") {
    assert(WarehouseIngest.cleanName("Completeness_Model_Used") ==
      "completeness_model_used")
    assert(WarehouseIngest.cleanName("GC_Content") == "gc_content")
    assert(WarehouseIngest.cleanName("Contig_N50") == "contig_n50")
    assert(WarehouseIngest.cleanName("Reads per base") ==
      "reads_per_base")
    assert(WarehouseIngest.cleanName("Q20(%)") == "q20")
    assert(WarehouseIngest.cleanName("5+") == "x5")
  }

  test("sample-name gate matches the reference's three prefixes") {
    // the kofam loader's `^samp_*` variant would also admit bare
    // "samp..." (zero-or-more underscores); the strict `^samp_` form
    // the other loaders use is the intent — "sampler" stays out
    val got = Seq("samp_12", "coassembly_3", "GVHDsamp_1", "test_1",
      "sampler", "asamp_2")
      .toDF("s").filter(WarehouseIngest.isIngestSample(col("s")))
      .as[String].collect().toSet
    assert(got == Set("samp_12", "coassembly_3", "GVHDsamp_1"))
  }

  test("kofam: skip-2, '*' flag, '-' threshold to null, ko_def gone") {
    val out = WarehouseIngest
      .parseKofam(spark.createDataset(
        WarehouseIngest.kofamText.split("\n").toSeq), "samp_9")
      .collect().map(r => r.getAs[String]("gene") -> r).toMap
    assert(out.size == 4)
    assert(out("samp_9_gene_1").getAs[Boolean]("sig"))
    assert(!out("samp_9_gene_2").getAs[Boolean]("sig"))
    assert(out("samp_9_gene_3").getAs[Any]("thrshld") == null)
    assert(out("samp_9_gene_1").getAs[Double]("e_value") == 1.2e-75)
    assert(!out.head._2.schema.fieldNames.contains("ko_def"))
  }

  test("checkm2: clean_names drift + Name->bin + locked types") {
    val raw = Seq(("binA", "98.5", "1.2")).toDF(
      "Name", "Completeness", "Contamination")
    val out = WarehouseIngest.checkm2Ingest(raw, "samp_1")
    assert(out.columns.toSeq ==
      Seq("sample", "bin", "completeness", "contamination"))
    val r = out.collect()(0)
    assert(r.getAs[String]("bin") == "binA")
    assert(r.getAs[Double]("completeness") == 98.5)
  }

  test("eukcc: extension strip, lineage tail, rename") {
    val out = WarehouseIngest.eukccIngest(
      WarehouseIngest.eukccRows.toDF("bin", "completeness",
        "contamination", "ncbi_lng"), "samp_9")
      .collect().map(r => r.getAs[String]("bin") -> r).toMap
    assert(out("bin_3").getAs[String]("ncbi_tax") == "4751")
    assert(out("metabat_12").getAs[String]("ncbi_lineage") ==
      "1-131567-2759")
    assert(out("metabat_12").getAs[String]("ncbi_tax") == "2759")
  }

  test("antismash counts: wide to (sample, group, count) long") {
    val out = WarehouseIngest.antismashCountsIngest(
      WarehouseIngest.antismashCountRows.toDF(
        "record" +: "total_count" +:
          WarehouseIngest.antismashCountGroups :+ "description": _*),
      "samp_9")
    assert(out.columns.toSeq == Seq("sample", "group", "count"))
    // 3 records x 3 groups
    assert(out.count() == 9)
    val t1pks = out.filter(col("group") === "T1PKS")
      .agg(sum("count")).collect()(0).getLong(0)
    assert(t1pks == 3L)
  }

  test("gtdb classify: 7-rank split keeps classification, strips d__") {
    val out = SparkEntry.queries("s_gtdb")(spark, "")
      .collect().map(r => r.getAs[String]("bin") -> r).toMap
    val b1 = out("bin_1")
    assert(b1.getAs[String]("domain") == "Bacteria")
    assert(b1.getAs[String]("genus") == "Limnohabitans")
    assert(b1.getAs[String]("species") == "Limnohabitans sp002293025")
    assert(b1.getAs[String]("classification").startsWith("d__Bacteria"))
    assert(out("bin_2").getAs[String]("genus") == "")  // empty rank g__
    assert(out("bin_2").getAs[Any]("fastani_ani") == null) // N/A
    assert(out("bin_2").getAs[Double]("red_value") == 0.89)
  }

  test("checkm: spaced/#-prefixed headers renamed, counts typed") {
    val out = SparkEntry.queries("s_checkm")(spark, "")
      .collect().map(r => r.getAs[String]("bin") -> r).toMap
    assert(out("bin_1").getAs[Int]("n_genomes") == 5449)
    assert(out("bin_1").getAs[Int]("n5_plus") == 0)
    assert(out("bin_2").getAs[Double]("strain_heterogeneity") == 25.0)
    assert(out("maxbin_3").getAs[String]("marker_lineage") ==
      "root (UID1)")
  }

  test("drep: score join, file-existence rep flag, extension strip") {
    val out = SparkEntry.queries("s_drep")(spark, "")
      .collect().map(r => r.getAs[String]("bin") -> r).toMap
    assert(out("bin_1").getAs[Boolean]("is_cluster_rep"))
    assert(!out("bin_2").getAs[Boolean]("is_cluster_rep"))
    assert(out("bin_2").getAs[Any]("drep_score") == null) // no Sdb row
    assert(out("maxbin_3").getAs[Double]("drep_score") == 42.25)
  }

  test("benchmarks: sample/rule from path, dash fixed, miss is null") {
    val rows = SparkEntry.queries("s_benchmarks")(spark, "")
      .collect()
    val bySample = rows.map(r =>
      Option(r.getAs[String]("sample")).getOrElse("NONE") -> r).toMap
    assert(bySample.contains("samp_100"))
    assert(bySample("GVHDsamp_306").getAs[String]("rule") == "assemble")
    assert(bySample.contains("coassembly_1")) // dash -> underscore
    assert(bySample("NONE").getAs[String]("rule") == "summarize")
  }

  test("coverM contig variant: Contig renamed, Sample dropped, typed") {
    val raw = Seq(("s9", "c_1", "7.5", "9000", "12000"))
      .toDF("Sample", "Contig", "Mean", "Covered Bases", "Length")
    val out = WarehouseIngest.contigAbundIngest(raw, "samp_9")
    assert(out.columns.toSeq == Seq("sample", "contig", "mean_depth",
      "covered_bases", "length"))
    val r = out.collect()(0)
    assert(r.getAs[String]("sample") == "samp_9") // tag, not tool col
    assert(r.getAs[Double]("mean_depth") == 7.5)
    assert(r.getAs[Long]("covered_bases") == 9000L)
  }

  test("gtdb_to_ncbi: spaced headers cleaned, renames applied") {
    val raw = WarehouseIngest.gtdbToNcbiRows
      .toDF(WarehouseIngest.gtdbToNcbiHeader: _*)
    val out = WarehouseIngest.gtdbToNcbiIngest(raw, "samp_9")
    assert(out.columns.toSeq == Seq("sample", "bin",
      "gtdb_classification", "ncbi_classification"))
    val b1 = out.filter(col("bin") === "bin_1").collect()(0)
    assert(b1.getAs[String]("ncbi_classification")
      .startsWith("d__Bacteria;p__Proteobacteria"))
  }

  test("antismash regions: drops file/desc, renames, types") {
    val out = WarehouseIngest.antismashRegionsIngest(
      WarehouseIngest.antismashRegionRows.toDF("file", "record_id",
        "record_desc", "region", "start", "end", "contig_edge",
        "product", "KCB_hit", "KCB_acc", "KCB_sim"), "samp_9")
    assert(out.columns.toSeq == Seq("sample", "contig", "region",
      "start", "end", "contig_edge", "product", "KCB_hit", "KCB_acc",
      "KCB_sim"))
    val edge = out.filter(col("contig_edge")).count()
    assert(edge == 2)
  }
}
