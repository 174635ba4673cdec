package graft

import org.scalatest.funsuite.AnyFunSuite

/** Smoke for every SparkEntry query at sf0.001: runs, yields rows,
  * has stable column names (value-level correctness is the driver's
  * DuckDB oracle gate, replicated locally by tools/check.py).
  */
class QueriesSpec extends AnyFunSuite {
  import SparkSuite._

  test("entry flagship query returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracle key has a matching query") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracles without queries: $missing")
  }

  test("no registry key collides across operator modules") {
    // Map ++ silently keeps the right-hand entry, so a reused query
    // name SHADOWS the earlier operator and its SURVEY row becomes a
    // phantom (it happened twice in r10: q_source_overlap, then
    // q_json_extract/24e) — assert the merged size equals the sum of
    // the parts so any future collision fails loudly with the names
    import graft.operators._
    val parts: Seq[(String, Set[String])] = Seq(
      "Relational" -> Relational.queries.keySet,
      "ExtractQueries" -> extract.ExtractQueries.queries.keySet,
      "Graph" -> Graph.queries.keySet,
      "Dedup" -> Dedup.queries.keySet,
      "Similarity" -> Similarity.queries.keySet,
      "TextAnalysis" -> TextAnalysis.queries.keySet,
      "Sampling" -> Sampling.queries.keySet,
      "Layout" -> Layout.queries.keySet,
      "Curation" -> Curation.queries.keySet,
      "Multimodal" -> Multimodal.queries.keySet,
      "CorpusOps" -> CorpusOps.queries.keySet,
      "Sketches" -> Sketches.queries.keySet)
    val dups = parts.combinations(2).flatMap { case Seq((na, a), (nb, b)) =>
      (a & b).map(k => s"$k ($na vs $nb)")
    }.toSeq
    assert(dups.isEmpty, s"colliding query keys: ${dups.mkString(", ")}")
    assert(parts.map(_._2.size).sum == SparkEntry.queries.size)
  }

  test("every checkpoint and shared-stage memo goes through MemoRegistry") {
    // one lineage-cut policy and one memo map: a private cut helper,
    // a bare checkpoint or a per-session TrieMap anywhere else in the
    // main sources bypasses the reliable-checkpoint path or Bench's
    // per-sweep reset. Warehouse backend state (TrieMaps keyed on
    // names, not sessions) does not match the patterns.
    val patterns = Seq("localCheckpoint(", ".checkpoint()", "getCheckpointDir",
      "TrieMap.empty[(SparkSession")
    val root = java.nio.file.Paths.get("src/main/scala")
    val files = {
      val s = java.nio.file.Files.walk(root)
      try s.toArray.toSeq.map(_.asInstanceOf[java.nio.file.Path])
        .filter(_.toString.endsWith(".scala"))
      finally s.close()
    }
    def hitsIn(p: java.nio.file.Path): Seq[String] =
      scala.io.Source.fromFile(p.toFile, "UTF-8").getLines().zipWithIndex
        .collect { case (l, i) if patterns.exists(l.contains) => s"$p:${i + 1}: ${l.trim}" }
        .toSeq
    val (home, rest) = files.partition(_.getFileName.toString == "MemoRegistry.scala")
    assert(home.size == 1 && hitsIn(home.head).nonEmpty, "scan must see MemoRegistry's own cut")
    val hits = rest.flatMap(hitsIn)
    if (hits.nonEmpty) fail(s"cut or memo outside MemoRegistry:\n${hits.mkString("\n")}")
  }

  test("shared builds once per (name, session, dir), under its name, until reset") {
    val desc = spark.sparkContext.getLocalProperty("spark.job.description")
    var builds = 0
    def stage(name: String, s: org.apache.spark.sql.SparkSession, dir: String): Int =
      MemoRegistry.shared(name, s, dir) {
        assert(s.sparkContext.getLocalProperty("spark.job.description") == name)
        builds += 1
        builds
      }
    try {
      assert(stage("spec.a", spark, "d1") == 1)
      assert(stage("spec.a", spark, "d1") == 1)
      assert(stage("spec.b", spark, "d1") == 2)
      assert(stage("spec.a", spark, "d2") == 3)
      assert(stage("spec.a", spark.newSession(), "d1") == 4)
      assert(stage("spec.a", spark, "d1") == 1)
      assert(spark.sparkContext.getLocalProperty("spark.job.description") == desc)
      MemoRegistry.reset()
      assert(stage("spec.a", spark, "d1") == 5)
      assert(builds == 5)
    } finally MemoRegistry.reset()
  }

  SparkEntry.queries.foreach { case (name, fn) =>
    test(s"$name runs and returns rows at sf0.001") {
      val df = fn(spark, sf)
      assert(df.columns.nonEmpty)
      assert(df.count() > 0, s"$name returned no rows")
    }
  }
}
