package graft

import java.nio.file.{Files, Paths}
import graft.operators.IngestJob

/** Crawler parity for the curated layer: a table registered over an
  * `ingest_date=` layout reads, by name, every partition landed before its
  * registration and every one landed before each refresh.
  */
class CatalogSpec extends SparkSuite {

  test("catalog reads of an ingest_date layout see every ingested batch") {
    val src = Files.createTempDirectory("catalog-src")
    val root = Files.createTempDirectory("catalog-root").toString
    Files.writeString(src.resolve("encounters.csv"),
      "patient_id,encounter_id,amount\nP1,E1,1.5\nP2,E2,2.5\nP3,E3,3.5\n")
    def ingest(day: String): Long = IngestJob.run(spark,
      IngestJob.Config(src.toString, Some("encounters.csv"),
        s"$root/encounters.parquet", day))
    val first = ingest("2026-09-01")
    Tables.registerCatalog(spark, root, db = "cat_test_ingest", tables = Seq("encounters"))
    assert(spark.table("cat_test_ingest.encounters").count() == first)
    val second = ingest("2026-09-02")
    Tables.refreshCatalog(spark, db = "cat_test_ingest", tables = Seq("encounters"))
    val byName = spark.table("cat_test_ingest.encounters")
    assert(byName.count() == first + second)
    assert(byName.select("ingest_date").distinct().count() == 2)
    assert(Files.isDirectory(Paths.get(root, "encounters.parquet", "ingest_date=2026-09-02")))
  }
}
