package graft.spark

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.NoSuchTableException
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** The SQL catalog surface: CREATE/INSERT/SELECT/DROP through
  * `straw.<ns>.<table>` identifiers, hive-partitioned creates whose plain
  * INSERTs maintain the layout, time travel via VERSION/TIMESTAMP AS OF,
  * rename, CTAS, and the sidecar that round-trips partition metadata. */
class StrawCatalogSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private var warehouse: String = _

  override def beforeAll(): Unit = {
    warehouse = Files.createTempDirectory("strawcat").toString
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("straw-catalog-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.catalog.straw", classOf[StrawCatalog].getName)
      .config("spark.sql.catalog.straw.warehouse", warehouse)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = {
    if (spark != null) spark.stop()
  }

  test("create, insert, select, drop — plain SQL end to end") {
    spark.sql("CREATE TABLE straw.t1 (id BIGINT, name STRING)")
    assert(spark.sql("SELECT * FROM straw.t1").count() == 0)
    spark.sql("INSERT INTO straw.t1 VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    assert(spark.sql("SELECT * FROM straw.t1").count() == 3)
    assert(spark.sql("SELECT name FROM straw.t1 WHERE id = 2")
      .collect().map(_.getString(0)).toSeq == Seq("b"))
    // INSERT OVERWRITE replaces
    spark.sql("INSERT OVERWRITE straw.t1 VALUES (9, 'z')")
    assert(spark.sql("SELECT * FROM straw.t1").collect().map(_.getLong(0)).toSeq == Seq(9L))
    spark.sql("DROP TABLE straw.t1")
    assert(!spark.catalog.tableExists("straw.t1"))
    intercept[Exception](spark.sql("SELECT * FROM straw.t1").collect())
  }

  test("partitioned create: INSERT INTO maintains the hive layout") {
    spark.sql("CREATE TABLE straw.pt (id BIGINT, k STRING) PARTITIONED BY (k)")
    spark.sql("INSERT INTO straw.pt SELECT id, CAST(id % 3 AS STRING) FROM range(30)")
    // files landed in k=<v> directories (the table's layout, no options)
    val dirs = new java.io.File(s"$warehouse/pt").listFiles()
      .filter(_.isDirectory).map(_.getName).filterNot(_.startsWith("_")).sorted
    assert(dirs.toSeq == Seq("k=0", "k=1", "k=2"))
    assert(spark.sql("SELECT count(*) FROM straw.pt WHERE k = '1'")
      .collect()(0).getLong(0) == 10)
    // a second insert appends into the same layout
    spark.sql("INSERT INTO straw.pt VALUES (100, '1')")
    assert(spark.sql("SELECT count(*) FROM straw.pt WHERE k = '1'")
      .collect()(0).getLong(0) == 11)
    spark.sql("DROP TABLE straw.pt")
  }

  test("namespaces are directories; listTables/listNamespaces see them") {
    spark.sql("CREATE NAMESPACE straw.db1")
    spark.sql("CREATE TABLE straw.db1.inner (x INT)")
    spark.sql("INSERT INTO straw.db1.inner VALUES (42)")
    assert(spark.sql("SELECT x FROM straw.db1.inner").collect()(0).getInt(0) == 42)
    val tables = spark.sql("SHOW TABLES IN straw.db1").collect().map(_.getString(1))
    assert(tables.contains("inner"))
    val nss = spark.sql("SHOW NAMESPACES IN straw").collect().map(_.getString(0))
    assert(nss.contains("db1"))
    spark.sql("DROP TABLE straw.db1.inner")
    spark.sql("DROP NAMESPACE straw.db1")
    assert(!spark.sql("SHOW NAMESPACES IN straw").collect()
      .map(_.getString(0)).contains("db1"))
  }

  test("VERSION AS OF / TIMESTAMP AS OF read pinned snapshots; writes refused") {
    spark.sql("CREATE TABLE straw.tt (id BIGINT)")
    spark.sql("INSERT INTO straw.tt SELECT id FROM range(10)")
    spark.sql("INSERT INTO straw.tt SELECT id FROM range(10, 30)")
    assert(spark.sql("SELECT count(*) FROM straw.tt").collect()(0).getLong(0) == 30)
    // resolve versions from the history (the create may carry a bootstrap
    // commit, so append versions are discovered, not assumed)
    val hist = StrawLog.history(s"$warehouse/tt").sortBy(_.version)
    val appends = hist.filter(_.operation == "append").map(_.version)
    assert(appends.length == 2)
    assert(spark.sql(s"SELECT count(*) FROM straw.tt VERSION AS OF ${appends(0)}")
      .collect()(0).getLong(0) == 10)
    assert(spark.sql(s"SELECT count(*) FROM straw.tt VERSION AS OF ${appends(0) - 1}")
      .collect()(0).getLong(0) == 0)
    val t1 = java.time.Instant.ofEpochMilli(
      hist.find(_.version == appends(0)).get.timestampMs).toString
    assert(spark.sql(s"SELECT count(*) FROM straw.tt TIMESTAMP AS OF '$t1'")
      .collect()(0).getLong(0) == 10)
    // historical snapshots are read-only
    val e = intercept[Exception](
      spark.sql("INSERT INTO straw.tt VERSION AS OF 1 VALUES (99)"))
    assert(e.getMessage != null)
    spark.sql("DROP TABLE straw.tt")
  }

  test("CTAS, rename, and table properties") {
    spark.sql("CREATE TABLE straw.src AS SELECT id, id * 2 AS dbl FROM range(5)")
    assert(spark.sql("SELECT sum(dbl) FROM straw.src").collect()(0).getLong(0) == 20)
    spark.sql("ALTER TABLE straw.src SET TBLPROPERTIES ('team' = 'data-eng')")
    assert(spark.sql("SHOW TBLPROPERTIES straw.src").collect()
      .exists(r => r.getString(0) == "team" && r.getString(1) == "data-eng"))
    spark.sql("ALTER TABLE straw.src RENAME TO dst")
    assert(!spark.catalog.tableExists("straw.src"))
    assert(spark.sql("SELECT count(*) FROM straw.dst").collect()(0).getLong(0) == 5)
    spark.sql("DROP TABLE straw.dst")
  }

  test("create rejects duplicate tables, bad partition types, foreign providers") {
    spark.sql("CREATE TABLE straw.dup (x INT)")
    intercept[Exception](spark.sql("CREATE TABLE straw.dup (y INT)"))
    spark.sql("DROP TABLE straw.dup")
    intercept[Exception](
      spark.sql("CREATE TABLE straw.badpart (x INT, d DOUBLE) PARTITIONED BY (d)"))
    intercept[Exception](
      spark.sql("CREATE TABLE straw.badprov (x INT) USING parquet"))
  }

  test("sidecar round-trips partition columns and properties exactly") {
    val s = StrawTableSidecar(Seq("a", "b"),
      Map("k\"quote" -> "v\nline", "plain" -> "x"))
    val dir = Files.createTempDirectory("sidecar").toString
    StrawTableSidecar.write(dir, s)
    assert(StrawTableSidecar.read(dir).contains(s))
    // empty shapes survive too
    StrawTableSidecar.write(dir, StrawTableSidecar(Seq.empty, Map.empty))
    assert(StrawTableSidecar.read(dir).contains(StrawTableSidecar(Seq.empty, Map.empty)))
  }

  test("sidecar rewrites replace it atomically: a concurrent reader always sees one") {
    val dir = Files.createTempDirectory("sidecar-race").toString
    val versions = (0 until 200).map(i => StrawTableSidecar(Seq("p"), Map("v" -> i.toString)))
    StrawTableSidecar.claim(dir, versions.head) // as CREATE TABLE leaves it
    val problems = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val firstRead = new java.util.concurrent.CountDownLatch(1)
    @volatile var done = false
    var reads = 0
    val reader = new Thread(() => {
      while (!done) {
        try StrawTableSidecar.read(dir) match {
          case Some(s) if versions.contains(s) => reads += 1
          case other => problems.add(s"read $other")
        } catch { case e: Exception => problems.add(e.toString) }
        firstRead.countDown()
      }
    })
    reader.start()
    try {
      firstRead.await()
      versions.foreach(StrawTableSidecar.write(dir, _))
    } finally { done = true; reader.join() }
    if (!problems.isEmpty)
      fail(s"${problems.size} bad reads, first: " + problems.asScala.take(3).mkString("; "))
    assert(reads > 1)
    assert(StrawTableSidecar.read(dir).contains(versions.last))
    assert(!new java.io.File(dir).list().exists(_.endsWith(".tmp")))
  }

  test("external strawboat directory surfaces as a catalog table") {
    import org.apache.spark.sql.functions._
    spark.range(7).select(col("id"))
      .write.format("strawboat").mode("overwrite").save(s"$warehouse/ext")
    assert(spark.sql("SELECT count(*) FROM straw.ext").collect()(0).getLong(0) == 7)
    val listed = spark.sql("SHOW TABLES IN straw").collect().map(_.getString(1))
    assert(listed.contains("ext"))
    spark.sql("DROP TABLE straw.ext")
  }

  test("ALTER TABLE ADD COLUMN: metadata-only evolution, old rows null-fill") {
    spark.sql("CREATE TABLE straw.ev (id BIGINT)")
    spark.sql("INSERT INTO straw.ev SELECT id FROM range(5)")
    val filesBefore = StrawIO.listFiles(s"$warehouse/ev").size
    spark.sql("ALTER TABLE straw.ev ADD COLUMN note STRING")
    assert(spark.sql("SELECT * FROM straw.ev").schema.fieldNames.toSeq ==
      Seq("id", "note"))
    assert(spark.sql("SELECT count(*) FROM straw.ev WHERE note IS NULL")
      .collect()(0).getLong(0) == 5)
    // metadata-only: one schema marker joined, no data file rewritten
    assert(StrawIO.listFiles(s"$warehouse/ev").size == filesBefore + 1)
    assert(StrawLog.history(s"$warehouse/ev").head.operation == "add column note")
    // new writes can fill it; old rows stay null
    spark.sql("INSERT INTO straw.ev VALUES (100, 'annotated')")
    assert(spark.sql("SELECT count(*) FROM straw.ev WHERE note = 'annotated'")
      .collect()(0).getLong(0) == 1)
    // duplicates and non-nullable adds are refused
    intercept[Exception](spark.sql("ALTER TABLE straw.ev ADD COLUMN note STRING"))
    intercept[Exception](
      spark.sql("ALTER TABLE straw.ev ADD COLUMN strict STRING NOT NULL"))
    spark.sql("DROP TABLE straw.ev")
  }

  test("writeStream.toTable drains into a catalog table") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.Trigger
    val srcDir = s"$warehouse/_outside/streamsrc" // outside the namespace tree
    spark.range(20).select(col("id"))
      .write.format("strawboat").mode("overwrite").save(srcDir)
    spark.sql("CREATE TABLE straw.streamed (id BIGINT)")
    val q = spark.readStream.format("strawboat").load(srcDir)
      .writeStream
      .option("checkpointLocation", s"$warehouse/_outside/ckpt")
      .trigger(Trigger.AvailableNow())
      .toTable("straw.streamed")
    assert(q.awaitTermination(120000))
    assert(spark.sql("SELECT count(*) FROM straw.streamed").collect()(0).getLong(0) == 20)
    spark.sql("DROP TABLE straw.streamed")
  }

  test("write.* TBLPROPERTIES configure every write into the table") {
    import graft.format.{LocalFileInput, StrawFileReader}
    spark.sql("""CREATE TABLE straw.wp (id BIGINT, digest STRING)
                 TBLPROPERTIES ('write.maxPageSize' = '16',
                                'write.bloomColumns' = 'digest')""")
    spark.sql("INSERT INTO straw.wp SELECT id, concat('d', id) FROM range(100)")
    val dataFile = new java.io.File(s"$warehouse/wp").listFiles()
      .filter(f => f.getName.endsWith(".strb") && f.length > 0)
      .maxBy(_.length)
    val in = new LocalFileInput(dataFile.getPath)
    val footer = try StrawFileReader.readFooter(in) finally in.close()
    // 100 rows split over 4 input partitions → ~25 rows per file; 16-row
    // property pages ⇒ at least 2 pages (default 64k-row pages would be 1)
    assert(footer.topLeaf(0).pages.length >= 2)
    // per-statement options still win over the property
    spark.sql("DROP TABLE straw.wp")
  }

  test("racing CREATE TABLE: exactly one creator wins") {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    implicit val ec: ExecutionContext = ExecutionContext.global
    val results = Await.result(
      Future.sequence((1 to 4).map(i => Future(
        try { spark.sql(s"CREATE TABLE straw.race (id BIGINT)"); "ok" }
        catch { case _: Throwable => "lost" }))),
      2.minutes)
    assert(results.count(_ == "ok") == 1, results.toString)
    // the winner's table is intact
    spark.sql("INSERT INTO straw.race VALUES (1)")
    assert(spark.sql("SELECT count(*) FROM straw.race").collect()(0).getLong(0) == 1)
    spark.sql("DROP TABLE straw.race")
  }

  test("_file metadata column names the producing data file per row") {
    import org.apache.spark.sql.functions._
    spark.sql("CREATE TABLE straw.mf (id BIGINT, k STRING) PARTITIONED BY (k)")
    spark.sql("INSERT INTO straw.mf SELECT id, CAST(id % 2 AS STRING) FROM range(20)")
    val rows = spark.sql("SELECT id, k, _file FROM straw.mf").collect()
    assert(rows.length == 20)
    // every row's _file is a real .strb path inside its own k=<v> directory
    rows.foreach { r =>
      val f = r.getString(2)
      assert(f.endsWith(".strb") && f.contains(s"k=${r.getString(1)}"), f)
      assert(new java.io.File(new java.net.URI(f).getPath).exists(), f)
    }
    // distinct files ≥ partitions; _file-only and filtered projections work
    val files = spark.sql("SELECT DISTINCT _file FROM straw.mf").collect()
    assert(files.length >= 2)
    assert(spark.sql("SELECT _file FROM straw.mf WHERE k = '1'").collect()
      .forall(_.getString(0).contains("k=1")))
    // grouping by _file — the maintenance shape (rows per file)
    val perFile = spark.sql(
      "SELECT _file, count(*) AS c FROM straw.mf GROUP BY 1").collect()
    assert(perFile.map(_.getLong(1)).sum == 20)
    // _file does not leak into SELECT *
    assert(spark.sql("SELECT * FROM straw.mf").schema.fieldNames.toSeq ==
      Seq("id", "k"))
    spark.sql("DROP TABLE straw.mf")
  }

  test("column DEFAULTs fill omitted values; survive the footer round-trip") {
    spark.sql("""CREATE TABLE straw.dft (id BIGINT,
                 status STRING DEFAULT 'new', score DOUBLE DEFAULT 0.0)""")
    spark.sql("INSERT INTO straw.dft (id) VALUES (1)")
    spark.sql("INSERT INTO straw.dft VALUES (2, 'done', 1.0)")
    spark.sql("INSERT INTO straw.dft (id, status) VALUES (3, DEFAULT)")
    val rows = spark.sql("SELECT id, status, score FROM straw.dft ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
    assert(rows == Seq((1L, "new", 0.0), (2L, "done", 1.0), (3L, "new", 0.0)))
    spark.sql("DROP TABLE straw.dft")
  }

  test("loadTable on a missing table raises NoSuchTableException") {
    intercept[NoSuchTableException] {
      spark.sessionState.catalogManager.catalog("straw")
        .asInstanceOf[StrawCatalog]
        .loadTable(org.apache.spark.sql.connector.catalog.Identifier.of(
          Array.empty[String], "nope"))
    }
  }
  test("ALTER COLUMN TYPE: metadata-only lossless widening") {
    spark.sql("CREATE TABLE straw.wide1 (id BIGINT, n INT, x FLOAT)")
    spark.sql("INSERT INTO straw.wide1 VALUES (1, 100, CAST(1.5 AS FLOAT))")
    val filesBefore = StrawIO.listFiles(s"$warehouse/wide1").toSet
    spark.sql("ALTER TABLE straw.wide1 ALTER COLUMN n TYPE BIGINT")
    spark.sql("ALTER TABLE straw.wide1 ALTER COLUMN x TYPE DOUBLE")
    // metadata-only: every pre-existing data file is untouched
    filesBefore.foreach(p => assert(new java.io.File(new java.net.URI(p)).exists(), p))
    // old rows read widened; the declared schema is the wide type
    val sch = spark.table("straw.wide1").schema
    assert(sch("n").dataType == org.apache.spark.sql.types.LongType, sch.toString)
    assert(sch("x").dataType == org.apache.spark.sql.types.DoubleType, sch.toString)
    val r0 = spark.sql("SELECT n, x FROM straw.wide1 WHERE id = 1").collect()(0)
    assert(r0.getLong(0) == 100L && r0.getDouble(1) == 1.5)
    // new writes bind at the wide type, beyond INT range
    spark.sql("INSERT INTO straw.wide1 VALUES (2, 5000000000, 2.25)")
    val rows = spark.sql("SELECT id, n, x FROM straw.wide1 ORDER BY id").collect()
    assert(rows.map(_.getLong(1)).toSeq == Seq(100L, 5000000000L))
    // narrowing refuses loudly — Spark's own analyzer rejects non-up-casts
    // before the catalog ever sees them
    val narrow = intercept[Exception] {
      spark.sql("ALTER TABLE straw.wide1 ALTER COLUMN n TYPE INT")
    }
    assert(narrow.getMessage.contains("NOT_SUPPORTED_CHANGE_COLUMN"), narrow.getMessage)
    val toStr = intercept[Exception] {
      spark.sql("ALTER TABLE straw.wide1 ALTER COLUMN n TYPE STRING")
    }
    assert(toStr.getMessage.contains("lossless widening"), toStr.getMessage)
    assert(StrawLog.history(s"$warehouse/wide1")
      .exists(_.operation.startsWith("alter column n type")))
    spark.sql("DROP TABLE straw.wide1")
  }

}
