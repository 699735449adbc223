package graft

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import scala.jdk.CollectionConverters._

/** Every `ScaleLab` case, once, at tiny sizes on the shared session. Each
  * golden line is what the scale main the case replaced printed for the
  * same arguments (`local[4]`, 4 shuffle partitions). The lab's line must
  * carry the same keys in the same order, and the same value for every
  * deterministic field; a timed field only has to be a number.
  */
class ScaleLabSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  /** Fields whose value does not depend on timing. */
  private val Exact = Set("metric", "rows", "runs", "partitions", "candidates",
    "edges", "iters", "rank_mass_fp", "records", "prefix_len", "matched_pairs",
    "batch", "assignments", "commits", "drain5_rows", "drain100_rows",
    "vacuum_swept", "refs_before", "refs_after", "users", "corpus_rows",
    "batch_rows", "batch_pairs", "docs_hit", "dup_tokens", "sf_dir", "mult",
    "target_rows")

  private val golden: Seq[(String, Seq[String], String)] = Seq(
    ("dedup", Seq("2000", "1", "4"),
      """{"metric":"dedup_scale","rows":2000,"runs":1,"partitions":4,"candidates":142,"median_sec":1.342200606,"docs_per_sec":1490}"""),
    ("pagerank", Seq("20000", "1", "4"),
      """{"metric":"pagerank_scale","edges":20000,"iters":5,"runs":1,"partitions":4,"rank_mass_fp":999999975785,"median_sec":2.065217935,"edge_iters_per_sec":48421}"""),
    ("linkage", Seq("20000", "1", "4", "3"),
      """{"metric":"linkage_scale","records":20000,"runs":1,"partitions":4,"prefix_len":3,"matched_pairs":2000,"median_sec":0.838726356,"records_per_sec":23845}"""),
    ("incremental_linkage", Seq("20000", "500", "1", "4", "4"),
      """{"metric":"incremental_linkage_scale","records":20000,"batch":500,"runs":1,"partitions":4,"prefix_len":4,"assignments":22500,"probe_median_sec":2.475612952,"full_median_sec":1.404377476,"speedup":0.5672847505767937}"""),
    ("log", Seq("30", "2"),
      """{"metric":"log_scale","commits":30,"build_sec":10.6,"head_hinted_sec":0.00119,"head_listed_sec":0.00239,"manifest_head_sec":0.00090,"manifest_compact_sec":0.00070,"ts_resolve_sec":0.0067,"ts_probes":7,"drain5_sec":2.06,"drain5_rows":5,"drain100_sec":0.48,"drain100_rows":29,"vacuum_sec":0.02,"vacuum_swept":30,"optimize_sec":0.59,"refs_before":30,"refs_after":1}"""),
    ("sessionize", Seq("20000,40000", "100", "1"),
      """{"metric":"sessionize_scale","users":100,"runs":1,"curve":[{"rows":20000,"median_sec":0.745271022,"rows_per_sec":26835},{"rows":40000,"median_sec":0.581040709,"rows_per_sec":68841}]}"""),
    ("setjoin", Seq("2000", "1", "4"),
      """{"metric":"setjoin_scale","corpus_rows":2000,"batch_rows":10000,"runs":1,"partitions":4,"batch_pairs":1000,"probe_median_sec":2.686624256,"full_median_sec":2.22495564,"full_over_probe":0.83}"""),
    ("span", Seq("2000", "1", "4"),
      """{"metric":"span_scale","rows":2000,"runs":1,"partitions":4,"docs_hit":400,"dup_tokens":15600,"median_sec":1.376364835,"docs_per_sec":1453}"""),
    ("upsert", Seq("1,2", "1"),
      """{"metric":"upsert_scale","sf_dir":"/root/testdata/sf0.001","runs":1,"curve":[{"mult":1,"target_rows":6000,"bucketed_sec":0.800188713,"unbucketed_sec":0.376511393,"speedup":0.4705282477534771},{"mult":2,"target_rows":12000,"bucketed_sec":0.578907315,"unbucketed_sec":0.31888423,"speedup":0.5508381423717197}]}"""))

  private val mapper = new ObjectMapper()

  /** The line's keys in print order, with each timed value replaced by
    * its JSON type.
    */
  private def shape(line: String): String = {
    def go(n: JsonNode): String =
      if (n.isObject) n.properties().asScala.map { e =>
        val v = e.getValue
        e.getKey + ":" + (if (v.isArray || Exact(e.getKey)) go(v) else v.getNodeType)
      }.mkString("{", ",", "}")
      else if (n.isArray) n.elements().asScala.map(go).mkString("[", ",", "]")
      else n.toString
    go(mapper.readTree(line))
  }

  test("the registry holds exactly the nine cases") {
    assert(ScaleLab.cases.map(_.name) == golden.map(_._1))
  }

  golden.foreach { case (name, args, parentLine) =>
    test(s"$name: the lab prints the retired main's line") {
      val line = ScaleLab.json(ScaleLab.run(spark, name, args, sfDir = sf))
      assert(shape(line) == shape(parentLine))
    }
  }

  test("a case restores the session conf it sets and deletes its scratch dir") {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val before = spark.conf.getOption(key)
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def scratchDirs = tmp.list().filter(_.startsWith("graft_scalelab")).toSet
    val dirsBefore = scratchDirs
    ScaleLab.run(spark, "upsert", Seq("1", "1"), sfDir = sf)
    intercept[Exception](ScaleLab.run(spark, "upsert", Seq("1", "1"),
      sfDir = s"$sf/no_such_dir"))
    assert(spark.conf.getOption(key) == before)
    assert(scratchDirs == dirsBefore)
  }

  test("too many parameters or an unknown case are refused") {
    intercept[IllegalArgumentException](ScaleLab.run(spark, "log", Seq("1", "1", "1")))
    intercept[IllegalArgumentException](ScaleLab.run(spark, "no_such_case", Nil))
  }
}
