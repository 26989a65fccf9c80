package graft

import org.apache.spark.sql.SparkSession

/** The one local session configuration: every main (`Bench`, `Verify`, the
  * `tools/` mains) and every test suite builds its session here, so the tests
  * exercise the library under the session the oracle dump and the bench run.
  *
  * `getOrCreate` makes it idempotent within a JVM: a second call returns the
  * running session, whose static configuration (master, extensions, Kryo
  * registrator, split sizes) is the same by construction.
  */
object GraftSession {

  def local(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // The default 100-entry codegen class cache thrashes across a 60-query
      // suite: the warmup pass's compiled classes are evicted before the
      // timed pass, so wide-aggregate queries (64-column MinHash/SimHash)
      // pay multi-second Janino recompiles in the measurement. Size the
      // cache to the suite.
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      // Single-file tables split by byte range: the default 128 MB split
      // leaves a 64 MB 100x-scale table on ONE core of 32. 8 MB keeps base-SF
      // plans identical (every sf0.1 file is smaller than 8 MB -> still one
      // split) while a scaled corpus fans out across the executor. The open
      // cost must scale WITH the split size (default 4 MB was tuned for
      // 128 MB bins): left at 4 MB, an 8 MB bin packs only TWO small files,
      // shattering every multi-file scratch store into tiny tasks — measured
      // as a broad 1.3–1.8x suite slowdown. 256 KB keeps the default's 32:1
      // bin:open-cost ratio.
      .config("spark.sql.files.maxPartitionBytes", "8m")
      .config("spark.sql.files.openCostInBytes", "262144")
      // pinned: WardenFilter's shared from_json relies on partial-result
      // conversion to confine per-row schema conflicts to the conflicting
      // subtree (default true on Spark 4.x; pinned so behavior cannot
      // silently change under us — see WardenFilter.apply)
      .config("spark.sql.json.enablePartialResults", "true")
      // native graft expressions (cosine_sim, ...) via the declarative hook;
      // the operators also self-register imperatively on foreign sessions
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.kryo.registrator", "graft.GraftKryoRegistrator")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
