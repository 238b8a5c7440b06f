package kgbench

import graft.NerfModel
import graft.core.Synth
import graft.io.TableIO
import graft.pipeline.{CanonState, Graph, KgPipeline}
import graft.pipeline.KgPipeline.RepoFile
import org.apache.spark.sql.{DataFrame, Dataset, Observation, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK

/** The calls the benchmark times, each through the program's public
  * functions, laid out as `KgMain` (build), `KgDeltaMain` (maintenance
  * batch) and a table consumer (query) compose them. Untraced forms run
  * the program's own composition; traced forms call the same functions
  * one layer at a time and persist + count each layer's output before
  * the next starts.
  */
object Ops {

  val Buckets = 16
  val BucketCols = Seq("src_repo", "src_path")
  val Lineage = Map("snapshot" -> "kgbench")
  /** The 2-pattern BGP, kept as written: each pattern's scan keeps every
    * provenance row, so the join grows with entity popularity squared. */
  val Bgp = Seq(("?m", "hasEntity", "?e"), ("?e", "hasType", "persName"))
  val AuditZero = Seq("dangling_entities", "orphan_typed_entities",
    "duplicate_triples", "null_key_triples")

  def triplesDir(dir: String) = s"$dir/triples"
  def stateDir(dir: String) = s"$dir/canon_state"

  // ---------------- inputs ----------------

  /** Materialize generated rows `0 until n` as the raw input table. */
  def writeRaw(spark: SparkSession, n: Long, seed: Long, path: String,
               parts: Int): Unit = {
    import spark.implicits._
    spark.range(0L, n, 1L, parts)
      .map(i => Gen.closed(i, seed))
      .write.mode("overwrite").parquet(path)
  }

  def readFiles(spark: SparkSession, path: String): Dataset[RepoFile] = {
    import spark.implicits._
    spark.read.parquet(path)
      .select("repo", "path", "commit", "lang", "content").as[RepoFile]
  }

  // ---------------- build ----------------

  /** A committed table: triple rows, wall time, and an order-independent
    * digest of its content (row count and XOR of the bucket manifests'
    * content checksums). */
  final case class Built(rows: Long, secs: Double, digest: String)

  def digest(commits: Seq[TableIO.BucketCommit]): String =
    f"${commits.map(_.rows).sum}:${commits.map(_.checksum).foldLeft(0L)(_ ^ _)}%016x"

  /** Raw rows → snapshot → NER → link → canonicalize → triples →
    * committed buckets and manifests, as `KgMain` runs it. */
  def build(spark: SparkSession, raw: String, dir: String,
            model: NerfModel): Built = {
    val t0 = System.nanoTime()
    TableIO.writeSnapshot(spark.read.parquet(raw), s"$dir/snapshot", "kgbench")
    val r = KgPipeline.run(spark, readFiles(spark, s"$dir/snapshot/data"), model)
    val commits = TableIO.writeResumable(r.triples, triplesDir(dir), Buckets,
      BucketCols, Lineage)
    val secs = (System.nanoTime() - t0) / 1e9
    KgPipeline.release(spark, r)
    Built(commits.map(_.rows).sum, secs, digest(commits))
  }

  /** [[build]] one layer at a time. Returns the table and the layer
    * counters, which are computed after the traced span closes. */
  def buildTraced(spark: SparkSession, raw: String, dir: String,
                  model: NerfModel, threads: Int, tr: Tracer,
                  probe: Probe): (Built, Seq[(String, Double)]) = {
    val sc = Some(spark.sparkContext)
    val kb = KgPipeline.kbAliasDf(spark, Synth.knowledgeBase)
    var frames: KgPipeline.Result = null
    var commits: Seq[TableIO.BucketCommit] = Nil
    val t0 = System.nanoTime()
    tr.span(s"build@$threads") {
      tr.span("snapshot", sc) {
        TableIO.writeSnapshot(spark.read.parquet(raw), s"$dir/snapshot", "kgbench")
      }
      val snap = readFiles(spark, s"$dir/snapshot/data")
      val ments = tr.span("ner", sc) {
        val m = KgPipeline.detectMentions(spark, snap, model).persist(MEMORY_AND_DISK)
        m.count(); m
      }
      val linked = tr.span("link", sc) {
        val l = KgPipeline.linkMentions(spark, ments, kb).persist(MEMORY_AND_DISK)
        l.count(); l
      }
      val canon = tr.span("canon", sc) {
        val c = KgPipeline.canonicalize(spark, linked, kb).cache()
        c.count(); c
      }
      val trip = tr.span("triples", sc) {
        val t = KgPipeline.triples(linked, canon).persist(MEMORY_AND_DISK)
        t.count(); t
      }
      frames = KgPipeline.Result(ments, linked, canon, trip)
      commits = tr.span("write", sc) {
        TableIO.writeResumable(trip, triplesDir(dir), Buckets, BucketCols, Lineage)
      }
    }
    val secs = (System.nanoTime() - t0) / 1e9
    val counts = pipelineCounts(spark, readFiles(spark, s"$dir/snapshot/data"),
      frames.mentions, frames.linked, kb, frames.canon,
      KgPipeline.aliasEdges(frames.linked, kb).count(), probe) ++ Seq(
      "write.rows" -> commits.map(_.rows).sum.toDouble,
      "write.files" -> parquetFiles(spark, s"${triplesDir(dir)}/data").toDouble,
      "write.max_over_median_task" -> probe.get("write").maxOverMedianTask)
    frames.mentions.unpersist()
    KgPipeline.release(spark, frames)
    (Built(commits.map(_.rows).sum, secs, digest(commits)), counts)
  }

  /** NER, link and canonicalization counters of one traced call. */
  private def pipelineCounts(spark: SparkSession, files: Dataset[RepoFile],
                             ments: Dataset[KgPipeline.MentionRow],
                             linked: DataFrame, kb: DataFrame, canon: DataFrame,
                             edges: Long, probe: Probe): Seq[(String, Double)] = {
    import spark.implicits._
    val sentences = files.map(f => KgPipeline.sentencesOf(f.lang, f.content).length.toLong)
      .agg(sum(col("value"))).head.getLong(0)
    val (cands, outer) = candidates(ments.toDF(), kb)
    val linkRow = linked.agg(count(lit(1)),
      count(when(col("entity_id").startsWith("nil:"), 1))).head
    val canonRow = canon.groupBy("canon_id").count()
      .agg(count(lit(1)), max(col("count"))).head
    Seq(
      "ner.sentences" -> sentences.toDouble,
      "ner.mentions" -> ments.count().toDouble,
      "link.candidates_per_mention" -> cands / math.max(outer, 1L).toDouble,
      "link.nil_ratio" -> linkRow.getLong(1) / math.max(linkRow.getLong(0), 1L).toDouble,
      "canon.edges" -> edges.toDouble,
      "canon.distributed" -> (if (probe.get("canon").distributedCc) 1.0 else 0.0),
      "canon.max_component" -> canonRow.getLong(1).toDouble,
      "canon.entities" -> canonRow.getLong(0).toDouble)
  }

  private def parquetFiles(spark: SparkSession, dir: String): Long = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val it = p.getFileSystem(spark.sessionState.newHadoopConf()).listFiles(p, true)
    var n = 0L
    while (it.hasNext) if (it.next().getPath.getName.endsWith(".parquet")) n += 1
    n
  }

  /** KB candidates the linker's blocking join pairs with each linked
    * (outermost) mention: mentions and KB aliases meet on the first
    * token of their lower-cased surface. Returns (candidates, mentions). */
  def candidates(mentions: DataFrame, kb: DataFrame): (Long, Long) = {
    val bk = (c: String) => split(lower(col(c)), " ").getItem(0)
    val kbKeys = kb.select(bk("alias_norm").as("bk")).groupBy("bk")
      .agg(count(lit(1)).as("n"))
    val r = mentions.where(col("depth") === 0).select(bk("surface").as("bk"))
      .join(broadcast(kbKeys), Seq("bk"), "left")
      .agg(coalesce(sum(col("n")), lit(0L)), count(lit(1))).head
    (r.getLong(0), r.getLong(1))
  }

  // ---------------- maintenance ----------------

  /** `KgDeltaMain`'s onboarding: persisted canonicalization evidence for
    * a table built without it, from the table's own snapshot. */
  def bootstrapState(spark: SparkSession, dir: String, model: NerfModel): Unit = {
    val kb = KgPipeline.kbAliasDf(spark, Synth.knowledgeBase)
    val ments = KgPipeline.detectMentions(spark, readFiles(spark, s"$dir/snapshot/data"), model)
    val linked = KgPipeline.linkMentions(spark, ments, kb).persist(MEMORY_AND_DISK)
    val cd = KgPipeline.canonicalizeWithState(spark, linked, kb, stateDir(dir))
    CanonState.save(spark, stateDir(dir), cd.edges, cd.canon)
    cd.edges.unpersist()
    cd.remap.unpersist()
    KgPipeline.releaseCanon(spark, cd.canon)
    linked.unpersist()
  }

  def deleteKeys(spark: SparkSession, deleted: Seq[RepoFile]): DataFrame = {
    import spark.implicits._
    deleted.map(f => (f.repo, f.path)).toDF("src_repo", "src_path")
  }

  /** One maintenance batch through the calls `mergeDeltaCanonical` makes,
    * in its order, one layer at a time. Returns the merge and state
    * counters. */
  def batchTraced(spark: SparkSession, dir: String, model: NerfModel,
                  changed: Seq[RepoFile], deleted: Seq[RepoFile], threads: Int,
                  tr: Tracer): Seq[(String, Double)] = {
    import spark.implicits._
    val sc = Some(spark.sparkContext)
    val ch = spark.createDataset(changed)
    val del = deleteKeys(spark, deleted)
    val kb = KgPipeline.kbAliasDf(spark, Synth.knowledgeBase)
    var counts: Seq[(String, Double)] = Nil
    tr.span(s"batch@$threads") {
      val ments = tr.span("ner", sc) {
        val m = KgPipeline.detectMentions(spark, ch, model).persist(MEMORY_AND_DISK)
        m.count(); m
      }
      val linked = tr.span("link", sc) {
        val l = KgPipeline.linkMentions(spark, ments, kb).persist(MEMORY_AND_DISK)
        l.count(); l
      }
      val cd = tr.span("canon", sc) {
        val c = KgPipeline.canonicalizeWithState(spark, linked, kb, stateDir(dir))
        c.remap.count(); c
      }
      try {
        val trip = tr.span("triples", sc) {
          val t = KgPipeline.triples(linked, cd.canon).persist(MEMORY_AND_DISK)
          t.count(); t
        }
        val (d, r) = tr.span("merge", sc) {
          // changed files whose new content yields no triple are deleted
          // too, as mergeDeltaCanonical does
          val vacated = ch.toDF().select(col("repo").as("src_repo"),
              col("path").as("src_path")).distinct()
            .join(trip.select("src_repo", "src_path").distinct(),
              BucketCols, "left_anti")
          val d = TableIO.mergeBuckets(spark, triplesDir(dir), Buckets,
            BucketCols, BucketCols, trip, Some(del.unionByName(vacated).distinct()))
          val r = if (cd.remap.isEmpty) d.copy(affectedBuckets = Nil, rowsAfter = 0L)
                  else KgPipeline.reconcileCanon(spark, triplesDir(dir), Buckets, cd.remap)
          (d, r)
        }
        tr.span("state", sc) {
          CanonState.save(spark, stateDir(dir), cd.edges, cd.canon)
        }
        counts = Seq(
          "merge.buckets_rewritten" ->
            (d.affectedBuckets ++ r.affectedBuckets).distinct.size.toDouble,
          "merge.rows_rewritten_per_upsert" ->
            (d.rowsAfter + r.rowsAfter) / math.max(d.nUpserts, 1L).toDouble,
          "state.edges" -> CanonState.loadEdges(spark, stateDir(dir))
            .map(_.count()).getOrElse(0L).toDouble)
        trip.unpersist()
      } finally {
        cd.remap.unpersist()
        cd.edges.unpersist()
        KgPipeline.releaseCanon(spark, cd.canon)
        linked.unpersist()
        ments.unpersist()
      }
    }
    counts
  }

  // ---------------- query ----------------

  def readTable(spark: SparkSession, dir: String): DataFrame =
    TableIO.readCommitted(spark, triplesDir(dir), Buckets)

  def audit(spark: SparkSession, t: DataFrame): Map[String, Long] =
    KgPipeline.kgAudit(spark, t).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

  def bgp(t: DataFrame): Long = KgPipeline.matchPattern(t, Bgp).count()

  /** N-Triples export through a noop sink (every line is built and
    * escaped); returns the line count. */
  def ntriples(t: DataFrame): Long = {
    val obs = Observation()
    KgPipeline.ntriples(t).observe(obs, count(lit(1)).as("n"))
      .write.format("noop").mode("overwrite").save()
    obs.get("n").asInstanceOf[Long]
  }

  /** Entity salience: PageRank (8 iterations, damping 0.85) over the
    * co-mention graph of canonical entities, files capped at their 32
    * smallest entity ids. Returns (top-50 entities, nodes, edges, Σ rank). */
  final case class Salience(top: Seq[String], nodes: Long, edges: Long,
                            rankSum: Double)

  /** Runs the salience query; returns it and its wall time up to the
    * top-50 collect (the graph counts are taken after the clock stops). */
  def salience(t: DataFrame): (Salience, Double) = {
    val t0 = System.nanoTime()
    val ment = t.where(col("pred") === "hasEntity")
      .select(concat_ws("#", col("src_repo"), col("src_path"), col("src_commit")).as("file"),
        col("obj").as("ent"))
      .distinct()
    val perFile = ment
      .withColumn("rn", row_number().over(Window.partitionBy("file").orderBy("ent")))
      .where(col("rn") <= 32)
      .groupBy("file").agg(sort_array(collect_list(col("ent"))).as("ents"))
    val edges = perFile
      .select(explode(col("ents")).as("ea"), col("ents"))
      .select(col("ea"), explode(col("ents")).as("eb"))
      .where(col("ea") < col("eb"))
      .select(xxhash64(col("ea")).as("src"), xxhash64(col("eb")).as("dst"))
      .distinct()
      .persist(MEMORY_AND_DISK)
    val undirected = edges
      .unionByName(edges.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
    val names = ment.select(col("ent")).distinct()
      .select(xxhash64(col("ent")).as("node"), col("ent").as("entity"))
    val ranks = Graph.pageRank(undirected, iters = 8, damping = 0.85)
    try {
      val top = ranks.join(names, "node")
        .select(col("entity"), round(col("pr"), 6).as("salience"))
        .orderBy(col("salience").desc, col("entity"))
        .limit(50).collect().map(_.getString(0)).toSeq
      val secs = (System.nanoTime() - t0) / 1e9
      val agg = ranks.agg(count(lit(1)), sum(col("pr"))).head
      (Salience(top, agg.getLong(0), edges.count(), agg.getDouble(1)), secs)
    } finally {
      edges.unpersist()
      Graph.releaseRanks(ranks)
    }
  }

  /** One query round, one layer at a time over the table read (and
    * persisted) once. Returns the query counters. */
  def queryTraced(spark: SparkSession, dir: String, threads: Int, tr: Tracer,
                  probe: Probe): Seq[(String, Double)] = {
    val sc = Some(spark.sparkContext)
    var bindings = 0L
    var sal: Salience = null
    val t = tr.span(s"query@$threads") {
      val t = tr.span("read", sc) {
        val t = readTable(spark, dir).persist(MEMORY_AND_DISK)
        t.count(); t
      }
      tr.span("audit", sc)(audit(spark, t))
      bindings = tr.span("bgp", sc)(bgp(t))
      tr.span("ntriples", sc)(ntriples(t))
      sal = tr.span("pagerank", sc)(salience(t)._1)
      t
    }
    // rows the BGP join produces before its DISTINCT: per entity,
    // mention rows × person type rows
    val perE = (w: org.apache.spark.sql.Column, c: String) =>
      t.where(w).groupBy(col(c).as("e")).agg(count(lit(1)).as(s"n_$c"))
    val attempted = perE(col("pred") === "hasEntity", "obj")
      .join(perE(col("pred") === "hasType" && col("obj") === "persName", "subj"), "e")
      .agg(coalesce(sum(col("n_obj") * col("n_subj")), lit(0L))).head.getLong(0)
    t.unpersist()
    Seq(
      "bgp.shuffle_records" -> probe.get("bgp").shuffleRecords.toDouble,
      "bgp.bindings" -> bindings.toDouble,
      "bgp.useful_ratio" -> bindings / math.max(attempted, 1L).toDouble,
      "pagerank.nodes" -> sal.nodes.toDouble,
      "pagerank.edges" -> sal.edges.toDouble)
  }
}
