package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{SparkEntry, Stores}

/** store-serving: a cold build of the stores the served queries read,
  * through the public `Stores` accessors in a fixed order, then one
  * client in a closed loop running a seeded sequence of store-first
  * served queries (search, phrase, facet, hybrid, passage and dup-map
  * families). No served query mutates a store.
  */
object ServeLoad {
  /** Build order: each store after the stores it reads, so every build
    * time is that store's own work.
    */
  val StoreBuilds: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "index" -> (Stores.index(_, _)),
    "capped_index" -> (Stores.cappedIndex(_, _, 1000)),
    "norms" -> (Stores.norms(_, _)),
    "positional" -> (Stores.positional(_, _)),
    "top_bigram" -> (Stores.topBigram(_, _)),
    "doc_meta" -> (Stores.docMeta(_, _)),
    "facet_index" -> (Stores.facetIndex(_, _)),
    "chunk_slices" -> (Stores.chunkSlices(_, _)),
    "chunk_index" -> (Stores.chunkIndex(_, _, 1000)),
    "chunk_stats" -> (Stores.chunkStats(_, _)),
    "bands" -> (Stores.bands(_, _)),
    "lsh_pairs" -> (Stores.lshPairs(_, _)),
    "dup_map" -> (Stores.dupMap(_, _)))

  val Served: Seq[String] = Seq(
    "q203_and_query", "q262_search_literal",              // search
    "q209_phrase_query",                                  // phrase
    "q269_faceted_search", "q270_filtered_search",        // facet
    "q271_hybrid_rrf",                                    // hybrid
    "q282_passage_search",                                // passage
    "q248_dup_cluster_sizes")                             // dup map

  def run(spark: SparkSession, data: String, out: String, seconds: Double,
          seed: Long, trace: Trace): Outcome = {
    val warehouse = Paths.get(spark.conf.get("spark.sql.warehouse.dir")
      .stripPrefix("file:"))

    // cold build, one store at a time, sizes from the new table dirs
    val buildC0 = trace.counters()
    val tBuild = System.nanoTime()
    val builds = StoreBuilds.map { case (name, build) =>
      val before = tableDirs(warehouse)
      val t0 = System.nanoTime()
      trace.span(s"stores.$name", trace.newOp(), "store-serving") {
        spark.sparkContext.setJobDescription(s"perfbench: build $name")
        try build(spark, data) finally spark.sparkContext.setJobDescription(null)
      }
      val s = Main.seconds(t0)
      val mb = (tableDirs(warehouse) -- before).toSeq.map(dirBytes).sum / 1e6
      (name, s, mb)
    }
    val buildS = Main.seconds(tBuild)
    val buildC = trace.counters() - buildC0

    val exec = new Main.QueryRunner(spark, data, trace, "store-serving")

    // one untimed round over every query shape (JIT, codegen) writes
    // each query's output once for the correctness check
    Served.foreach(q => exec(q, Main.writeOutput(_, out, q)))

    // closed loop: whole rounds, each a seeded permutation of the family
    val rng = new scala.util.Random(seed)
    val c0 = trace.counters()
    val tRun = System.nanoTime()
    val samples = Seq.newBuilder[(String, Double)]
    var ops = 0L
    while (Main.seconds(tRun) < seconds) {
      rng.shuffle(Served).foreach { q => samples += q -> exec(q, Main.noop); ops += 1 }
    }
    val wallS = Main.seconds(tRun)
    val c = trace.counters() - c0

    val timed = samples.result()
    val layers =
      if (!trace.enabled) Map.empty[String, Double]
      else Main.sparkLayers(c, ops, wallS) ++
        builds.flatMap { case (n, s, mb) =>
          Seq(s"stores.${n}_build_s" -> s, s"stores.${n}_mb" -> mb) } ++
        Map("stores.build_jobs" -> buildC.jobs.toDouble,
          "stores.build_core_busy_share" ->
            buildC.runMs / (buildS * 1000 * Main.Cpus))
    Outcome(
      coldS = buildS,
      throughputPerS = ops / wallS,
      latenciesMs = timed.map(_._2 * 1000),
      latencyShapes = timed.map(_._1),
      tailPct = 90,
      attempted = Served.size + ops, failed = exec.failed,
      checks = Served.map(q => q -> SparkEntry.oracleSql(q)).toMap,
      info = Map("store_build_s" -> buildS, "served_ops" -> ops,
        "stores" -> builds.map { case (n, s, mb) =>
          Map("store" -> n, "build_s" -> s, "mb" -> mb) }),
      layers = layers)
  }

  private def tableDirs(warehouse: Path): Set[Path] =
    if (!Files.isDirectory(warehouse)) Set.empty
    else {
      val ls = Files.list(warehouse)
      try ls.iterator.asScala.filter(Files.isDirectory(_)).toSet
      finally ls.close()
    }

  private def dirBytes(dir: Path): Long = {
    val walk = Files.walk(dir)
    try walk.iterator.asScala.filter(Files.isRegularFile(_))
      .map(Files.size).sum
    finally walk.close()
  }
}
