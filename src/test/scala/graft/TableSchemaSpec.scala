package graft

/** Pins `Tables.tableSchema`'s driver-side footer inference (r18): the
  * zero-job footer read must return EXACTLY what `spark.read.parquet`
  * infers for the same single file — Spark-written files (schema JSON in
  * the footer key-value metadata, including non-nullable write-side
  * fields that inference normalizes to nullable) and foreign-written
  * files (converter path) alike. A drift here would silently change
  * every scan the engine plans from a memoized schema.
  */
class TableSchemaSpec extends SparkSpec {

  test("footer inference == spark.read inference for Spark-written files") {
    val dir = tmpDir("tblschema")
    spark.range(10).selectExpr(
        "id",                                    // non-nullable long
        "cast(id as decimal(12,2)) as d",
        "timestamp_micros(id) as ts",
        "cast(id as string) as s",
        "array(id, id + 1) as arr",
        "named_struct('a', id, 'b', cast(id as string)) as st")
      .coalesce(1).write.mode("overwrite").parquet(dir)
    val f = new java.io.File(dir).listFiles
      .filter(_.getName.endsWith(".parquet")).head.getAbsolutePath
    assert(Tables.tableSchema(spark, f) == spark.read.parquet(f).schema)
  }

  test("footer inference == spark.read inference for the base tables") {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    Tables.names.foreach { n =>
      val path = s"$dir/$n.parquet"
      assert(Tables.tableSchema(spark, path) == spark.read.parquet(path).schema,
        s"schema drift on $n")
    }
  }

  test("memoized: same file identity returns the same schema instance") {
    val dir = tmpDir("tblschema-memo")
    spark.range(3).toDF("id").coalesce(1).write.mode("overwrite").parquet(dir)
    val f = new java.io.File(dir).listFiles
      .filter(_.getName.endsWith(".parquet")).head.getAbsolutePath
    val a = Tables.tableSchema(spark, f)
    val b = Tables.tableSchema(spark, f)
    assert(a eq b) // memo hit — no second footer read
  }

  test("a hot entry stays cached across 1,100 one-off loads") {
    val hotDir = tmpDir("tblschema-hot")
    spark.range(3).toDF("id").coalesce(1).write.mode("overwrite").parquet(hotDir)
    val hot = new java.io.File(hotDir).listFiles
      .filter(_.getName.endsWith(".parquet")).head.getAbsolutePath
    val a = Tables.tableSchema(spark, hot)
    val dir = tmpDir("tblschema-many")
    spark.range(0, 1100, 1, 1100).toDF("id").write.mode("overwrite").parquet(dir)
    val files = new java.io.File(dir).listFiles
      .filter(_.getName.endsWith(".parquet")).map(_.getAbsolutePath)
    assert(files.length == 1100)
    files.foreach(f => Tables.tableSchema(spark, f))
    assert(Tables.tableSchema(spark, hot) eq a,
      "1,100 other loads must not evict the hot entry")
  }
}
