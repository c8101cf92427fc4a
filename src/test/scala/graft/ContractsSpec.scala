package graft

import org.apache.spark.sql.types._

/** Enforced output contracts (reference schema.yml:159-192 +
  * create_temp_table_as.sql:1-5): the final relation must match the declared
  * schema; a breach aborts the run BEFORE anything is published; the temp
  * delta is exempt (its raw-business-column schema never matches the final
  * contract, yet a conforming run succeeds).
  */
class ContractsSpec extends SparkTestBase {

  import spark.implicits._

  private val cfg = ScdConfig(uniqueKey = Seq("k"))

  private def batch(v: String, t: String) =
    Seq((1, v, ts(t))).toDF("k", "v", "_updated_at")

  // the final SCD2 relation of `batch`: business cols + audit cols
  private val good = StructType(Seq(
    StructField("k", IntegerType, nullable = false),
    StructField("v", StringType),
    StructField("_updated_at", TimestampType),
    StructField("_is_current", BooleanType, nullable = false),
    StructField("_valid_from", TimestampType),
    StructField("_valid_to", TimestampType),
    StructField("_change_type", StringType, nullable = false)))

  test("conforming contract passes initial + incremental runs (temp exempt)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-contract1").toString
    val path = s"$dir/dim"
    // the delta batch (k, v, _updated_at) does NOT satisfy `good` — proof
    // enforcement runs against the final relation only
    assert(Contracts.violations(batch("a", "2025-01-01 00:00:00").schema,
                                good).nonEmpty)
    ScdEngine.run(spark, batch("a", "2025-01-01 00:00:00"), path, cfg,
                  contract = Some(good))
    val out = ScdEngine.run(spark, batch("b", "2025-01-02 00:00:00"), path,
                            cfg, contract = Some(good))
    assert(out.count() === 2)
  }

  test("breached contract throws and publishes nothing") {
    val dir = java.nio.file.Files.createTempDirectory("graft-contract2").toString
    val path = s"$dir/dim"
    val wrongType = StructType(good.fields.map {
      case f if f.name == "v" => f.copy(dataType = IntegerType)
      case f => f
    })
    val e1 = intercept[Contracts.ContractViolationException] {
      ScdEngine.run(spark, batch("a", "2025-01-01 00:00:00"), path, cfg,
                    contract = Some(wrongType))
    }
    assert(e1.violations.map(_.kind) === Seq("type_mismatch"))
    assert(!new java.io.File(path).exists()) // nothing was published

    val missingCol = StructType(good.fields :+
      StructField("extra_audit", StringType))
    val e2 = intercept[Contracts.ContractViolationException] {
      ScdEngine.run(spark, batch("a", "2025-01-01 00:00:00"), path, cfg,
                    contract = Some(missingCol))
    }
    assert(e2.violations.map(_.kind) === Seq("missing_column"))

    val undeclared = StructType(good.fields.filterNot(_.name == "v"))
    val e3 = intercept[Contracts.ContractViolationException] {
      ScdEngine.run(spark, batch("a", "2025-01-01 00:00:00"), path, cfg,
                    contract = Some(undeclared))
    }
    assert(e3.violations.map(_.kind) === Seq("undeclared_column"))
  }

  test("nullability: declared not-null must be non-nullable in the plan") {
    // `v` declared not-null, but the engine plans it nullable — the
    // violation names the column and kind
    val strict = StructType(good.fields.map {
      case f if f.name == "v" => f.copy(nullable = false)
      case f => f
    })
    val snap = operators.Scd2.initialLoad(batch("a", "2025-01-01 00:00:00"),
                                          cfg)
    val vs = Contracts.violations(snap.schema, strict)
    assert(vs.map(v => (v.column, v.kind)) === Seq("v" -> "nullability"))
    // declared-nullable accepts a non-nullable plan column (k is non-null)
    assert(Contracts.violations(
      snap.schema, StructType(good.fields.map {
        case f if f.name == "k" => f.copy(nullable = true)
        case f => f
      })).isEmpty)
  }

  test("report flags undeclared actual columns ok=false (agrees with enforce)") {
    val actual = StructType(good.fields :+ StructField("stray", StringType))
    val rows = Contracts.report(spark, actual, good)
      .collect().map(r => (r.getString(0), r.getString(1), r.getBoolean(2)))
    assert(rows.count(_._3 == false) === 1)
    assert(rows.find(_._1 == "stray").get === ("stray", "<undeclared>", false))
    // a conforming relation still renders all-green
    assert(Contracts.report(spark, good, good).collect().forall(_.getBoolean(2)))
  }

  test("data-level NOT NULL breach on the PRUNED bucketed path: tmp deleted, no bucket renamed") {
    val dir = java.nio.file.Files.createTempDirectory("graft-contract4").toString
    val path = s"$dir/dim"
    // declare v NOT NULL — plan-nullable, so enforcement settles on data
    val strict = StructType(good.fields.map {
      case f if f.name == "v" => f.copy(nullable = false)
      case f => f
    })
    ScdEngine.run(spark, batch("a", "2025-01-01 00:00:00"), path, cfg,
                  numBuckets = Some(4), contract = Some(strict))
    val before = VersionedTableSpecHelpers.snapshotFileList(path)
    // same key (same bucket), NULL v: structural check passes, the written
    // tmp fails the null-count — abort must leave every bucket + no .tmp
    val nullV = Seq((1, null.asInstanceOf[String], ts("2025-01-02 00:00:00")))
      .toDF("k", "v", "_updated_at")
    val e = intercept[Contracts.ContractViolationException] {
      ScdEngine.run(spark, nullV, path, cfg,
                    numBuckets = Some(4), contract = Some(strict))
    }
    assert(e.violations.map(_.kind) === Seq("nullability"))
    assert(VersionedTableSpecHelpers.snapshotFileList(path) === before)
    assert(!new java.io.File(path + ".tmp").exists())
  }

  test("first contract on an existing table validates UNTOUCHED buckets once") {
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("graft-contract5").toString
    val path = s"$dir/dim"
    // two keys in DIFFERENT buckets (probe the engine's own bucket fn)
    val probe = (1 to 32).map(k => (k, "x", ts("2025-01-01 00:00:00")))
      .toDF("k", "v", "_updated_at")
      .select(col("k"), ScdEngine.bucketOf(Seq("k"), 4).as("b"))
      .collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
    val kNull = probe.keys.head
    val kOther = probe.keys.find(k => probe(k) != probe(kNull)).get
    // build the table WITHOUT a contract; key kNull carries a NULL v
    val seedBatch = Seq((kNull, null.asInstanceOf[String], ts("2025-01-01 00:00:00")),
                        (kOther, "ok", ts("2025-01-01 00:00:00")))
      .toDF("k", "v", "_updated_at")
    ScdEngine.run(spark, seedBatch, path, cfg, numBuckets = Some(4))
    val strict = StructType(good.fields.map {
      case f if f.name == "v" => f.copy(nullable = false)
      case f => f
    })
    // incremental touching ONLY kOther's bucket, now WITH the contract: the
    // first-time full validation must surface kNull's null in the bucket
    // this batch never touches
    val before = VersionedTableSpecHelpers.snapshotFileList(path)
    val e = intercept[Contracts.ContractViolationException] {
      ScdEngine.run(spark,
                    Seq((kOther, "ok2", ts("2025-01-02 00:00:00")))
                      .toDF("k", "v", "_updated_at"),
                    path, cfg, numBuckets = Some(4), contract = Some(strict))
    }
    assert(e.violations.map(_.kind) === Seq("nullability"))
    assert(VersionedTableSpecHelpers.snapshotFileList(path) === before)
    // a contract the data satisfies passes, writes its marker, and the NEXT
    // run skips the full-table pass (marker present)
    ScdEngine.run(spark,
                  Seq((kOther, "ok2", ts("2025-01-02 00:00:00")))
                    .toDF("k", "v", "_updated_at"),
                  path, cfg, numBuckets = Some(4), contract = Some(good))
    assert(new java.io.File(path).listFiles()
      .exists(_.getName.startsWith("_CONTRACT_OK_")))
  }

  test("breached bucketed incremental aborts before touching any bucket") {
    val dir = java.nio.file.Files.createTempDirectory("graft-contract3").toString
    val path = s"$dir/dim"
    ScdEngine.run(spark, batch("a", "2025-01-01 00:00:00"), path, cfg,
                  numBuckets = Some(4), contract = Some(good))
    val before = VersionedTableSpecHelpers.snapshotFileList(path)
    val widened = Seq((1, "b", 7L, ts("2025-01-02 00:00:00")))
      .toDF("k", "v", "extra", "_updated_at")
    intercept[Contracts.ContractViolationException] {
      ScdEngine.run(spark, widened, path,
                    cfg.copy(onSchemaChange = "append_new_columns"),
                    numBuckets = Some(4), contract = Some(good))
    }
    assert(VersionedTableSpecHelpers.snapshotFileList(path) === before)
  }
}

/** File-listing helper shared by contract/writer specs. */
object VersionedTableSpecHelpers {
  def snapshotFileList(path: String): Seq[String] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    val root = new java.io.File(path)
    if (!root.exists()) Seq.empty
    else walk(root).map(f => s"${f.getPath}:${f.length}").sorted
  }
}
