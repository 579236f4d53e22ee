package graft.plans

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import scala.jdk.CollectionConverters._

/** The release pipeline's gates and knobs as DATA — the reference's
  * whole identity is a declarative, config-driven plan
  * (`/root/reference/README.md:49-360`: the `$maps` array IS the
  * program), and [[graft.operators.Release.pipeline]]'s thresholds
  * were the one surface still hard-coded in Scala. A release is now
  * reproducible from a reviewable JSON file ([[ReleaseConfig.fromJson]],
  * the [[PlanConfig]] `--plan=` discipline applied to
  * [[graft.ReleaseApp]] as `--config=`); the defaults are exactly the
  * values the pipeline always ran with, so the default object is
  * observation-equivalent to the pre-config code and the catalog
  * oracles (`q_pipeline_release*`) gate that equivalence.
  *
  * JSON shape (every key optional — absent keys keep the default):
  * {{{
  * { "lang": "en", "min_quality": 0.5,
  *   "min_tokens": 5, "max_tokens": 1000,
  *   "dedup":    { "shingle_n": 3, "num_hashes": 64, "bands": 16,
  *                 "jaccard_threshold": 0.5, "max_bucket_size": 12 },
  *   "split":    { "train_pct": 80, "val_pct": 10 },
  *   "decontam": { "bands": 32, "jaccard_threshold": 0.35,
  *                 "semantic_nlist": 8, "semantic_iters": 2,
  *                 "semantic_threshold": 0.3, "semantic_max_cluster": 6 },
  *   "sft":      { "tool_names": ["search", "calc"], "groups": 8,
  *                 "turn_overhead": 4 },
  *   "pack":     { "capacity": 512, "num_shards": 4 } }
  * }}}
  */
final case class ReleaseConfig(
    lang: String = "en",
    minQuality: Double = 0.5,
    minTokens: Long = 5L,
    maxTokens: Long = 1000L,
    dedup: ReleaseConfig.Dedup = ReleaseConfig.Dedup(),
    split: ReleaseConfig.Split = ReleaseConfig.Split(),
    decontam: ReleaseConfig.Decontam = ReleaseConfig.Decontam(),
    sft: ReleaseConfig.Sft = ReleaseConfig.Sft(),
    pack: ReleaseConfig.Pack = ReleaseConfig.Pack()) {

  /** Canonical one-line rendering — folded into the durable run's
    * resume fingerprint so resuming a run dir under a DIFFERENT
    * config refuses typed (a changed threshold silently mixed with
    * frozen stage tables is the same failure as a changed corpus). */
  def canonical: String = Seq(
    lang, minQuality, minTokens, maxTokens,
    dedup.shingleN, dedup.numHashes, dedup.bands, dedup.jaccardThreshold,
    dedup.maxBucketSize.getOrElse(-1),
    split.trainPct, split.valPct,
    decontam.bands, decontam.jaccardThreshold, decontam.semanticNlist,
    decontam.semanticIters, decontam.semanticThreshold,
    decontam.semanticMaxCluster.getOrElse(-1),
    sft.toolNames.mkString("+"), sft.groups, sft.turnOverhead,
    pack.capacity, pack.numShards).mkString("|")
}

object ReleaseConfig {

  final case class Dedup(
      shingleN: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16,
      jaccardThreshold: Double = 0.5,
      maxBucketSize: Option[Int] = Some(12))

  final case class Split(trainPct: Int = 80, valPct: Int = 10)

  /** The lexical bar is DELIBERATELY stricter than the dedup bar
    * (0.35 vs 0.5) — eval leakage is asymmetric risk; see the
    * pipeline's stage-5 rationale. */
  final case class Decontam(
      bands: Int = 32,
      jaccardThreshold: Double = 0.35,
      semanticNlist: Int = 8,
      semanticIters: Int = 2,
      semanticThreshold: Double = 0.3,
      semanticMaxCluster: Option[Int] = Some(6))

  /** PARALLELISM CONTRACT — `groups` IS the packing parallelism:
    * next-fit bin packing is a sequential fold per group
    * ([[graft.operators.Packing.packBinsByCount]] — one
    * `repartition(grp)` then an O(1)-state in-partition sweep), so
    * the TOTAL number of concurrent packing tasks equals `groups`,
    * and every group's whole conversation stream passes through one
    * executor core. The default 8 is FIXTURE-scale (it keeps the
    * sf0.01/sf0.1 DuckDB replay small); a production run must set it
    * explicitly to thousands (shards/workers — [[groupsFor]] derives
    * one from corpus cardinality), and thread the SAME value to any
    * replay. Raising it only re-keys `doc_id % groups`, so the
    * choice is a config knob, not a code change. */
  final case class Sft(
      toolNames: Seq[String] = Seq("search", "calc"),
      groups: Long = 8L,
      turnOverhead: Long = 4L)

  /** A production `sft.groups` for `n` conversations: one group per
    * `perGroup` docs (default 100k — minutes of single-core next-fit
    * sweep per task), floored at 8 so small corpora keep the fixture
    * default. ~10k groups at a billion conversations — the
    * "thousands at 100 TB" posture the packing scaladoc requires. */
  def groupsFor(n: Long, perGroup: Long = 100000L): Long = {
    require(perGroup > 0, "perGroup must be positive")
    math.max(8L, (n + perGroup - 1) / perGroup)
  }

  final case class Pack(capacity: Int = 512, numShards: Int = 4)

  /** Parse a JSON config string; absent keys keep their defaults,
    * unknown keys fail fast (a typo'd threshold silently ignored is
    * the config-file failure mode this loader exists to refuse). */
  def parse(json: String): ReleaseConfig = {
    val root = new ObjectMapper().readTree(json)
    def checkKeys(n: JsonNode, allowed: Set[String], where: String): Unit = {
      val unknown = n.fieldNames().asScala.toSeq.filterNot(allowed)
      require(unknown.isEmpty,
        s"ReleaseConfig: unknown key(s) ${unknown.mkString(", ")} in $where " +
          s"— allowed: ${allowed.toSeq.sorted.mkString(", ")}")
    }
    def opt(n: JsonNode, k: String): Option[JsonNode] =
      Option(n.get(k)).filterNot(_.isNull)
    checkKeys(root, Set("lang", "min_quality", "min_tokens", "max_tokens",
      "dedup", "split", "decontam", "sft", "pack"), "the config root")
    val d = ReleaseConfig()
    val dd = opt(root, "dedup").map { n =>
      checkKeys(n, Set("shingle_n", "num_hashes", "bands",
        "jaccard_threshold", "max_bucket_size"), "dedup")
      Dedup(
        opt(n, "shingle_n").map(_.asInt).getOrElse(d.dedup.shingleN),
        opt(n, "num_hashes").map(_.asInt).getOrElse(d.dedup.numHashes),
        opt(n, "bands").map(_.asInt).getOrElse(d.dedup.bands),
        opt(n, "jaccard_threshold").map(_.asDouble)
          .getOrElse(d.dedup.jaccardThreshold),
        opt(n, "max_bucket_size").map(v => Option(v.asInt).filter(_ > 0))
          .getOrElse(d.dedup.maxBucketSize))
    }.getOrElse(d.dedup)
    val sp = opt(root, "split").map { n =>
      checkKeys(n, Set("train_pct", "val_pct"), "split")
      Split(
        opt(n, "train_pct").map(_.asInt).getOrElse(d.split.trainPct),
        opt(n, "val_pct").map(_.asInt).getOrElse(d.split.valPct))
    }.getOrElse(d.split)
    val dc = opt(root, "decontam").map { n =>
      checkKeys(n, Set("bands", "jaccard_threshold", "semantic_nlist",
        "semantic_iters", "semantic_threshold", "semantic_max_cluster"),
        "decontam")
      Decontam(
        opt(n, "bands").map(_.asInt).getOrElse(d.decontam.bands),
        opt(n, "jaccard_threshold").map(_.asDouble)
          .getOrElse(d.decontam.jaccardThreshold),
        opt(n, "semantic_nlist").map(_.asInt)
          .getOrElse(d.decontam.semanticNlist),
        opt(n, "semantic_iters").map(_.asInt)
          .getOrElse(d.decontam.semanticIters),
        opt(n, "semantic_threshold").map(_.asDouble)
          .getOrElse(d.decontam.semanticThreshold),
        opt(n, "semantic_max_cluster").map(v => Option(v.asInt).filter(_ > 0))
          .getOrElse(d.decontam.semanticMaxCluster))
    }.getOrElse(d.decontam)
    val sf = opt(root, "sft").map { n =>
      checkKeys(n, Set("tool_names", "groups", "turn_overhead"), "sft")
      Sft(
        opt(n, "tool_names")
          .map(_.elements().asScala.map(_.asText).toSeq)
          .getOrElse(d.sft.toolNames),
        opt(n, "groups").map(_.asLong).getOrElse(d.sft.groups),
        opt(n, "turn_overhead").map(_.asLong).getOrElse(d.sft.turnOverhead))
    }.getOrElse(d.sft)
    val pk = opt(root, "pack").map { n =>
      checkKeys(n, Set("capacity", "num_shards"), "pack")
      Pack(
        opt(n, "capacity").map(_.asInt).getOrElse(d.pack.capacity),
        opt(n, "num_shards").map(_.asInt).getOrElse(d.pack.numShards))
    }.getOrElse(d.pack)
    ReleaseConfig(
      opt(root, "lang").map(_.asText).getOrElse(d.lang),
      opt(root, "min_quality").map(_.asDouble).getOrElse(d.minQuality),
      opt(root, "min_tokens").map(_.asLong).getOrElse(d.minTokens),
      opt(root, "max_tokens").map(_.asLong).getOrElse(d.maxTokens),
      dd, sp, dc, sf, pk)
  }

  /** Load from a file path (any Hadoop-visible filesystem). */
  def fromJson(
      spark: org.apache.spark.sql.SparkSession, path: String): ReleaseConfig = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
    parse(graft.sources.Segments.readText(fs, new org.apache.hadoop.fs.Path(path)))
  }
}
