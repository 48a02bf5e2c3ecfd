package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{functions => gf}
import graft.functions.FanOutOps
import graft.Tables
import graft.sources.SharedTable

/** Training-data-pipeline operators over `documents` / `embeddings`:
  * deduplication (exact, MinHash+LSH, SimHash, n-gram Jaccard),
  * similarity search, and text analysis (quality scoring, language-ID
  * heuristic, token stats, fingerprinting).
  *
  * Scale notes (100 TB):
  *   - Exact dedup is a hash-groupBy — one shuffle on the hash, partial
  *     aggregation upstream.
  *   - MinHash: per-doc signatures via one explode + groupBy (shuffle on
  *     doc_id), then LSH banding so candidate generation is a
  *     self-equi-join on (band_idx, band_hash) — never an all-pairs
  *     product. Band buckets are the classic skew risk: a degenerate
  *     band value (e.g. all-empty docs) would hot-spot one reducer; AQE
  *     skew-join handles it, and empty docs produce no shingles at all.
  *   - Jaccard verification runs only within candidate buckets.
  *   - Hashes are md5-derived (bit-identical in any engine, incl. the
  *     DuckDB oracle), not JVM-specific xxhash/murmur.
  *   - Brute-force cosine is the O(Q·N) baseline kept for small Q; the
  *     scale path (IVF partition-pruned variant) is in
  *     [[graft.operators.Similarity]].
  */
object TextQueries {

  private val NumHashes = 16
  private val Bands = 4
  private val RowsPerBand = NumHashes / Bands

  /** Universal-hash minhash family: each shingle is hashed ONCE
    * (60-bit md5 prefix via the native [[graft.plans.StableHash60]]),
    * then the 16 per-function values derive by cheap codegen'd integer
    * arithmetic — `mh_i = min((A_i * (h mod P) + B_i) mod P)`,
    * P = 2^31-1 (prime). The previous family (md5 of "i|shingle" per
    * function) paid 16 full md5 digests per shingle; this pays one,
    * cutting the signature aggregation — the dominant cost of
    * MinHash+LSH at corpus scale — ~16×, and shrinks the shuffled
    * signature from 16 strings to 16 longs. Constants come from
    * Knuth's 2654435761 multiplier; the oracle SQL interpolates the
    * SAME values, so results stay bit-identical across engines
    * (products stay < 2^62 — safe in BIGINT for both). */
  private val MinhashP = 2147483647L // 2^31 - 1
  private val HashA: Seq[Long] =
    (0 until NumHashes).map(i => ((i + 1) * 2654435761L) % MinhashP)
  private val HashB: Seq[Long] =
    (0 until NumHashes).map(i => (i * 40503L + 7L) % MinhashP)

  /** Aggregates over the per-shingle hash column `h` (already reduced
    * mod P in a projection BELOW the groupBy, so the md5 runs once per
    * shingle, not once per aggregate expression). */
  private def minhashAggs(h: Column): Seq[Column] =
    (0 until NumHashes).map { i =>
      min((h * HashA(i) + HashB(i)) % MinhashP).as(s"mh$i")
    }

  /** Per-shingle 60-bit hash via the native expression. */
  private def shingleHash(tok: Column): Column =
    org.apache.spark.sql.graft.CatalystBridge.column(
      graft.plans.StableHash60(
        org.apache.spark.sql.graft.CatalystBridge.expr(tok)))

  private def bandCol(b: Int): Column =
    concat_ws("|", (0 until RowsPerBand).map(r => col(s"mh${b * RowsPerBand + r}")): _*)

  /** Non-deduped token explode via the native expression (tf semantics
    * need duplicates; the composed filter(split) runs interpreted). */
  private def tokenCol =
    org.apache.spark.sql.graft.CatalystBridge.column(
      graft.plans.ShingleTokens(
        org.apache.spark.sql.graft.CatalystBridge.expr(trim(col("text"))),
        1, dedupe = false))

  /** 3-token shingles of a doc, deduped — shared by minhash queries.
    * Uses the native codegen'd [[graft.plans.ShingleTokens]] (the
    * higher-order-function composition runs interpreted — ~10× slower
    * on this hot path). The repartition fans the (often single-file)
    * scan out BEFORE the explode + 16×md5 partial aggregation —
    * otherwise all the hash work runs in as many tasks as there are
    * input files. */
  private def shingled(docs: DataFrame): DataFrame =
    docs.fanOutScan(col("doc_id"))
      .select(col("doc_id"),
        explode(org.apache.spark.sql.graft.CatalystBridge.column(
          graft.plans.ShingleTokens(
            org.apache.spark.sql.graft.CatalystBridge.expr(trim(col("text"))),
            3))).as("tok"))

  private val shingleSql =
    """SELECT DISTINCT doc_id, tok FROM (
      |    SELECT doc_id, unnest(list_transform(
      |      generate_series(1, len(t) - 2),
      |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS tok
      |    FROM (SELECT doc_id,
      |            list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS t
      |          FROM documents)
      |  )""".stripMargin

  private val minhashSqlAggs =
    (0 until NumHashes).map(i =>
      s"min((${HashA(i)} * h + ${HashB(i)}) % $MinhashP) AS mh$i").mkString(", ")

  /** The oracle's per-shingle hash + mod-P reduction, mirroring the
    * Spark-side projection below the signature aggregation. */
  private val shingleHashSql =
    s"SELECT doc_id, CAST(concat('0x', substr(md5(tok), 1, 15)) AS BIGINT) % $MinhashP AS h FROM sh"

  private def bandSql(b: Int): String =
    "concat_ws('|', " + (0 until RowsPerBand).map(r => s"mh${b * RowsPerBand + r}").mkString(", ") + ")"

  /** Oracle-side LSH candidate pairs, ending in `pairs(doc_a, doc_b)`
    * — shared by q28 (the pair list) and q64 (clustering over it). */
  private lazy val lshPairsSql: String =
    s"""WITH sh AS (
       |  $shingleSql
       |), hashed AS (
       |  $shingleHashSql
       |), sig AS (
       |  SELECT doc_id, $minhashSqlAggs FROM hashed GROUP BY doc_id
       |), bands AS (
       |  ${(0 until Bands).map(b =>
            s"SELECT doc_id, $b AS band_idx, ${bandSql(b)} AS band_hash FROM sig")
            .mkString("\n  UNION ALL\n  ")}
       |), pairs AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b
       |    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
       |    AND a.doc_id < b.doc_id
       |)""".stripMargin

  /** Spark-side LSH candidate pairs `(doc_a, doc_b)`, doc_a < doc_b —
    * the raw-pair body shared by q28 and the pair-stream consumers.
    *
    * DISTINCT-CONTENT COLLAPSED (the q66/q64 argument on the minhash
    * side): signatures — and hence band hashes — are pure functions of
    * the trimmed text, so identical-text docs always share every band
    * (a dup group is a clique in the raw candidate graph) and a raw
    * pair between two groups exists iff their representatives share a
    * band — exactly the materialized [[repPairsFor]] edge set. The
    * signature/banding pass therefore runs once per DISTINCT text
    * (the shared table), and the raw list is an arithmetic EXPANSION:
    * cross-group member products oriented (least, greatest) plus each
    * dup group's upper triangle — only rows the raw banding join
    * would also have emitted (the output itself). */
  private def lshPairs(s: SparkSession, dir: String): DataFrame = {
    val members = textGroupMembers(s, dir)
    val mA = members.select(col("gid").as("ga"), col("vid").as("va"))
    val mB = members.select(col("gid").as("gb"), col("vid").as("vb"))
    val cross = repPairsFor(s, dir).select("doc_a", "doc_b")
      .withColumnRenamed("doc_a", "ga").withColumnRenamed("doc_b", "gb")
      .join(mA, "ga").join(mB, "gb")
      .select(least(col("va"), col("vb")).as("doc_a"),
        greatest(col("va"), col("vb")).as("doc_b"))
    val within = members.filter(col("n") >= 2 && col("sig"))
    val withinPairs = within.select(col("gid"), col("vid").as("doc_a"))
      .join(within.select(col("gid"), col("vid").as("doc_b")), "gid")
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b")
    cross.union(withinPairs)
  }

  /** (gid, vid, n, sig) member table of the [[textGroupsFor]]
    * distinct-text groups — every doc mapped to its group's
    * representative id, group size, and whether the group's text
    * produces a minhash SIGNATURE at all (≥ 3 tokens ⇒ ≥ 1 shingle).
    * `sig` gates every within-group clique expansion: a doc with < 3
    * tokens never enters the raw banding join (no shingles → no
    * signature → no bands), so a duplicated short text is NOT a raw
    * candidate clique and must not become one under the collapse —
    * ungated, q28/q64/q89/q102/q181 would emit pairs/components the
    * raw algorithm (and the DuckDB oracle) never produce. Cross-group
    * paths need no gate: [[repPairsFor]] only contains groups whose
    * representative banded, which already requires a signature.
    * One text-keyed equi-join per consumer; the heavy string shuffles
    * once, downstream frames are skinny ids. */
  private def textGroupMembers(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id").as("vid"), trim(col("text")).as("txt"))
      .join(textGroupsFor(s, dir)
        .select(col("txt"), col("doc_id").as("gid"), col("n"), col("sig")),
          "txt")
      .select("gid", "vid", "n", "sig")

  /** LOSER side of the greedy right-side near-dup drop
    * ([[graft.operators.Dedup.dropPairDuplicates]]) over the RAW LSH
    * candidate graph, computed group-level — shared by q50/q100 so the
    * raw pair list never materializes just to be distinct-collapsed
    * into this set. A doc m loses iff some candidate partner has a
    * smaller id. Partners of m ∈ G are G's other members plus every
    * banded neighbor group's members, and members of a group H are all
    * ≥ gid_H, so: (a) if G appears on the gb side of a rep pair
    * (∃ banded H with gid_H < gid_G ≤ m) EVERY member of G loses;
    * (b) otherwise exactly the non-gid members of a dup group lose —
    * the group min is their smaller partner, while the group min
    * itself survives (every neighbor's members are ≥ gid_H > gid_G).
    * Output: one `doc_id` column, distinct. */
  private def lshLoserDocs(s: SparkSession, dir: String): DataFrame = {
    val members = textGroupMembers(s, dir)
    val loserG = repPairsFor(s, dir).select(col("doc_b").as("gid")).distinct()
    members.join(loserG, Seq("gid"), "left_semi")
      .select(col("vid").as("doc_id"))
      .union(members
        .filter(col("n") >= 2 && col("sig") && col("vid") =!= col("gid"))
        .select(col("vid").as("doc_id")))
      .distinct()
  }

  /** Every session-materialized warehouse family this module memoizes
    * (plus the two IVF indexes), keyed by the name Bench's `prebuild`
    * object reports it under, in build order. */
  private val sharedFamilies: Seq[(String, (SparkSession, String) => Any)] =
    Seq(
      "graft_wins6" -> windowsFor _,
      "graft_tgroups" -> textGroupsFor _,
      "graft_reppairs" -> repPairsFor _,
      "graft_bigrams" -> bigramCountsFor _,
      "ivf_index" -> ((s: SparkSession, dir: String) =>
        graft.operators.Similarity.sharedIvfIndex(
          Tables.embeddings(s, dir), dir)),
      // q182's memoized build→append lifecycle (VERDICT r14 item 4):
      // ~15 s at sf10x paid inside q182's first timing otherwise.
      "ivfgrown" -> ((s: SparkSession, dir: String) =>
        AnnQueries.grownIvfIndexFor(s, dir)),
      "graft_tf" -> tfFor _,
      "graft_tcomps" -> textCompsFor _,
      "embdups" -> embDupCollapsed _,
      "graft_ecomps" -> embCompsFor _)

  /** Force-build every [[sharedFamilies]] member, returning (family,
    * build-seconds) rows. Bench calls this BEFORE its timed loop so
    * per-query medians are warehouse-warmth-independent — without it
    * the first consumer of each family pays the build inside its
    * timing, and a cold-warehouse median is not comparable to a warm
    * one (VERDICT r11 item 3: q28 read 0.57 s warm vs 3.42 s cold at
    * the same HEAD). Build cost stays visible in the bench JSON's
    * `prebuild` object instead of hiding in some arbitrary first
    * consumer. */
  def prebuildSharedTables(s: SparkSession, dir: String): Seq[(String, Double)] =
    sharedFamilies.map { case (name, family) =>
      val t0 = System.nanoTime()
      family(s, dir)
      (name, (System.nanoTime() - t0) / 1e9)
    }

  /** Session-materialized rolling-hash window frame (doc_id, i, wh),
    * L = 6 — the ONE (scan + tokenize + hash + explode) pass shared by
    * q77 (shared-window census), q78 (heavy hitters) and q105 (span
    * accounting). Materialized as a warehouse table BUCKETED BY wh so
    * every consumer's wh-keyed aggregate and the q105 dup join are
    * bucket-local (no re-shuffle of the window stream), and the three
    * queries stop paying the corpus pass each (the round-9 in-suite
    * profile: q105 re-derived windows q77/q78 had just built). Values
    * are integers, so table-vs-inline cannot diverge. */
  private def windowsFor(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.graft.CatalystBridge
    SharedTable.bucketed(s, "graft_wins6", dir, "wh") {
      Tables.documents(s, dir)
        .repartition(col("doc_id"))
        .select(col("doc_id"),
          posexplode(CatalystBridge.column(graft.plans.RollingHashWindows(
            CatalystBridge.expr(trim(col("text"))), 6))).as(Seq("p", "wh")))
        .select(col("doc_id"), (col("p").cast("long") + 1L).as("i"),
          col("wh"))
    }
  }

  /** Session-materialized TERM-FREQUENCY backbone `(doc_id, term,
    * tf)` — the ONE (scan + tokenize + explode + per-doc-term
    * aggregate) pass that q46 (tf-idf), q61 (OOV rate) and the whole
    * retrieval family (q126 BM25, q127 posting census, q133 RRF,
    * q183 query likelihood) were each re-deriving per query — q46
    * even twice within one query (tf and df branches each re-exploded
    * the corpus). Everything those queries need derives from this
    * frame: df(term) = row count per term (one row per (doc, term)),
    * dl(doc) = Σ tf, cf(term) = Σ tf, total tokens = Σ tf — all exact
    * integers, so table-vs-inline cannot diverge. Warehouse-backed
    * like [[windowsFor]] (disk, not executor memory) and BUCKETED BY
    * `doc_id` so the corpus-sized tf ⨝ dl joins and per-doc
    * aggregates are bucket-local; term-keyed frames are
    * vocabulary-sized and broadcast/AQE-handled downstream. */
  private[queries] def tfFor(s: SparkSession, dir: String): DataFrame =
    SharedTable.bucketed(s, "graft_tf", dir, "doc_id") {
      Tables.documents(s, dir)
        .repartition(col("doc_id"))
        .select(col("doc_id"), col("source"), explode(tokenCol).as("term"))
        .groupBy("doc_id", "source", "term")
        .agg(count(lit(1)).as("tf"))
    }

  /** [[lshPairs]] over an arbitrary (doc_id, text) frame — q125 feeds
    * DISTINCT-TEXT representatives through the same pipeline, so the
    * banding cost tracks distinct content, not corpus rows. The
    * pipeline lives in [[graft.operators.MinHashLsh]] (parameterized —
    * `BenchLsh` measures planner-sized bandings on the same code
    * path); these queries pin (16, 4, 4) for oracle replication. */
  private def lshPairsFrom(docs: DataFrame): DataFrame =
    graft.operators.MinHashLsh.candidatePairs(
      docs, NumHashes, Bands, RowsPerBand)

  /** Session-materialized distinct-text groups `(txt, n, doc_id,
    * n_train, n_val, n_test)` — the ONE corpus scan + groupBy every
    * distinct-content-collapsed near-dup query (q125/q156/q159/q167)
    * was re-deriving per query. Warehouse-table backed like
    * [[windowsFor]] (disk, not executor memory), so suite neighbors
    * cannot evict it mid-query — the round-10 in-suite profile: q167
    * ran 5.3× its standalone time re-computing its own persisted
    * groups under cache pressure. Bucketed by `doc_id` (the rep key)
    * so every rep-pair meta join is bucket-local. The hash-split
    * member counts ride along because the split is a deterministic
    * function of `doc_id` ([[graft.operators.Sampling.hashSplit]]) —
    * three integers per distinct text, costless for the consumers
    * that ignore them, and exactly q167's census input. */
  private def textGroupsFor(s: SparkSession, dir: String): DataFrame =
    // Stem v2 since r14: the table now carries `sig` (whether the text
    // produces a minhash signature, i.e. ≥ 3 tokens) MATERIALIZED —
    // computed once per DISTINCT text at build. The first r14 shape
    // computed it in the consumers' join projections, i.e. once per
    // MEMBER row (post-join), which re-tokenized the full corpus per
    // query at sf10x (q64 4.6 → 21.6 s regression, caught by the
    // labeled scale run). The stem bump forces regeneration over any
    // persisted v1 warehouse table, whose generations are GC'd too.
    SharedTable.bucketed(s, "graft_tgroups2", dir, "doc_id",
        retired = Seq("graft_tgroups")) {
      graft.operators.Sampling
        .hashSplit(Tables.documents(s, dir), "doc_id")
        .select(col("doc_id"), trim(col("text")).as("txt"), col("split"))
        .groupBy("txt")
        .agg(count(lit(1)).as("n"), min("doc_id").as("doc_id"),
          sum(when(col("split") === "train", 1L).otherwise(0L)).as("n_train"),
          sum(when(col("split") === "val", 1L).otherwise(0L)).as("n_val"),
          sum(when(col("split") === "test", 1L).otherwise(0L)).as("n_test"))
        .withColumn("sig", size(gf.tokens(col("txt"))) >= 3)
    }

  /** Session-materialized LSH candidate pairs over the distinct-text
    * REPRESENTATIVES of [[textGroupsFor]] — the banding self-join is
    * the expensive half of every collapsed near-dup query, and all
    * four consumers band the IDENTICAL frame (same reps, same pinned
    * (16, 4, 4) parameters), so it runs once per (session, corpus)
    * and lands on disk bucketed by `doc_a`. */
  private def repPairsFor(s: SparkSession, dir: String): DataFrame =
    SharedTable.bucketed(s, "graft_reppairs", dir, "doc_a") {
      lshPairsFrom(
        textGroupsFor(s, dir).select(col("doc_id"), col("txt").as("text")))
    }

  /** Session-materialized per-doc bigram counts `(doc_id, half, w1,
    * w2, k)` — the ONE corpus tokenize + bigram count every bigram-LM
    * consumer (q86 top-25 LM, q88 perplexity, q142 Kneser–Ney, q154
    * CCNet buckets) was re-deriving per query. `half = doc_id % 2` is
    * the q142 train/held-out cut, free for consumers that sum across
    * it ((doc_id, bigram) is unique per row because half is a
    * function of doc_id). Bucketed by `w1` (16): the train-bigram
    * total (groupBy w1,w2), the left-context counts (groupBy w1), the
    * LM probability join (w1) and the held-out scoring join (w1,w2)
    * all run SHUFFLE-FREE off the scan — HashPartitioning(w1)
    * satisfies every ClusteredDistribution whose keys include w1, so
    * the only shuffles left in the whole KN chain are the w2-keyed
    * continuation steps (the n1r count and its join back, broadcast
    * at toy scale) and the final per-doc rollup. */
  private def bigramCountsFor(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.graft.CatalystBridge
    SharedTable.bucketed(s, "graft_bigrams", dir, "w1") {
      Tables.documents(s, dir)
        .repartition(col("doc_id"))
        .select(col("doc_id"), (col("doc_id") % 2).as("half"),
          explode(CatalystBridge.column(graft.plans.ShingleTokens(
            CatalystBridge.expr(trim(col("text"))), 2, dedupe = false)))
            .as("bigram"))
        .groupBy("doc_id", "half", "bigram")
        .agg(count(lit(1)).as("k"))
        .select(col("doc_id"), col("half"),
          split_part(col("bigram"), lit(" "), lit(1)).as("w1"),
          split_part(col("bigram"), lit(" "), lit(2)).as("w2"),
          col("k"))
    }
  }

  /** Session-materialized GROUP-level connected components of the
    * shared rep-pair graph `(gid, component_id)` — the CC fixpoint
    * (iterative localCheckpoint rounds + convergence checksums, ~5
    * jobs) that q64, q102 and q181 were each re-running per query on
    * the IDENTICAL [[repPairsFor]] edges. Labels are component-min
    * ids — a pure function of the edge set, layout-independent — and
    * exact longs, so table-vs-inline cannot diverge. This is also the
    * artifact a real pipeline materializes (the q102 "dedup mapping
    * table" stance): components are computed once per corpus, then
    * probed. */
  private def textCompsFor(s: SparkSession, dir: String): DataFrame =
    SharedTable.bucketed(s, "graft_tcomps", dir, "gid") {
      graft.operators.Dedup.connectedComponents(
        repPairsFor(s, dir), aCol = "doc_a", bCol = "doc_b", idCol = "gid")
    }

  /** [[textCompsFor]]'s embedding-side twin: group-level CC of the
    * [[embDupCollapsed]] pair graph, materialized once per (session,
    * corpus). */
  private def embCompsFor(s: SparkSession, dir: String): DataFrame =
    SharedTable.bucketed(s, "graft_ecomps", dir, "gid") {
      val (_, gpairs, _) = embDupCollapsed(s, dir)
      graft.operators.Dedup.connectedComponents(
        gpairs.select(col("ga"), col("gb")),
        aCol = "ga", bCol = "gb", idCol = "gid")
    }

  /** Member-level connected components of the RAW LSH candidate graph
    * (q64's output shape), computed over the DISTINCT-TEXT group graph
    * — the q66 collapse carried to the text side. MinHash signatures
    * (and hence band hashes) are pure functions of the trimmed text,
    * so: identical-text docs always share every band (a dup group is a
    * CLIQUE in the raw graph), and a raw pair between two groups
    * exists iff their REPRESENTATIVES share a band — exactly the
    * [[repPairsFor]] edge set, already materialized. The member-level
    * component structure is therefore fully determined by the group
    * graph: members inherit their group's component (one equi-join),
    * dup groups without a banded neighbor are their own clique, and
    * the member-level component minimum equals the minimum gid (gid =
    * min member id per group). The O(E log V) fixpoint thus runs over
    * distinct-content edges — d² fewer at duplication factor d.
    * Output: (doc_id, component_id) for every doc in ≥ 1 raw pair. */
  private def textDupComponents(s: SparkSession, dir: String): DataFrame = {
    val comp = textCompsFor(s, dir)
    val members = textGroupMembers(s, dir)
    val viaCross = members.join(comp, "gid")
      .select(col("vid").as("doc_id"), col("component_id"))
    val viaSelf = members.filter(col("n") >= 2 && col("sig"))
      .join(comp.select("gid"), Seq("gid"), "left_anti")
      .select(col("vid").as("doc_id"), col("gid").as("component_id"))
    viaCross.union(viaSelf)
  }

  /** q30's pipeline factored into STAGES (VERDICT r13 item 1): ONE
    * definition feeds both the oracle-gated query (`.output`) and the
    * `graft.BenchQ30` sf1x/sf10x attribution harness, so the measured
    * stages can never drift from what the suite ships. All frames are
    * lazy; persistTracked caches drain per materialization, so forcing
    * a stage pays its whole upstream — the harness reads per-stage
    * cost as CUMULATIVE DIFFS (prep ≤ candgen ≤ verify ≤ full). */
  private[graft] final case class Q30Stages(
      gp: org.apache.spark.sql.DataFrame,
      candidateShape: org.apache.spark.sql.DataFrame,
      verifyProbe: org.apache.spark.sql.DataFrame,
      qual: org.apache.spark.sql.DataFrame,
      output: org.apache.spark.sql.DataFrame)

  private[graft] def jaccardStages(
      s: SparkSession, dir: String): Q30Stages = {
      // Exact-dup collapse BEFORE the quadratic verify: identical
      // token SETS (same canonical fingerprint) pay the
      // array_intersect once per distinct pair, not once per doc pair
      // — on a dup-heavy corpus (10-way replicas: 100× the pairs) the
      // verify cost tracks DISTINCT content, which is how production
      // pipelines survive this operator (same principle as q59's
      // distinct-fingerprint banding). Member pairs are expanded
      // afterward: cross-group pairs inherit the representative
      // jaccard, within-group pairs are exactly 1.0. Zero-token docs
      // are excluded up front — their jaccard is NaN (0/0) in both
      // engines and never reaches the output.
      // rlike('\S') ⇔ tokens nonempty: filtering on size(toks) > 0
      // instead pushes a FULL second tokenize below the projection
      // (guide §4.4 duplication; found r16).
      val t = Tables.documents(s, dir)
        .fanOutScan(col("doc_id"))
        .filter(col("text").rlike("\\S"))
        .select(col("doc_id"), col("lang"),
          org.apache.spark.sql.graft.CatalystBridge.column(
            graft.plans.ShingleTokens(
              org.apache.spark.sql.graft.CatalystBridge.expr(trim(col("text"))),
              1)).as("toks"))
        .withColumn("ntok", size(col("toks")))
      // Occurrence-order fingerprint, DELIBERATELY not canonical-set:
      // byte-identical dups (the case that dominates real corpora)
      // still collapse, while same-set-different-order docs stay in
      // separate groups — merging them measured SLOWER (PERF.md #11:
      // giant merged groups concentrate the qualifying-pair
      // expansion). The verify kernel below still wants sorted input,
      // so each GROUP (not each pair) sorts one copy of its token
      // array. collect_list is bounded by the dup group size —
      // inherent to this operator's contract, whose OUTPUT already
      // lists every member pair.
      val groups = t
        .withColumn("fp", md5(array_join(col("toks"), " ")))
        .groupBy("lang", "fp")
        .agg(sort_array(collect_list(col("doc_id"))).as("ids"),
          first(col("toks")).as("toks0"), first(col("ntok")).as("ntok"))
        .withColumn("toks", sort_array(col("toks0")))
        .drop("toks0")
      // Candidate generation: triangle-block decomposition, KEPT over
      // the PPJoin prefix filter after measuring both (PERF #21, the
      // #11 precedent). The published prefix filter (Chaudhuri/Ganti/
      // Kaushik SSJoin; Vernica/Carey/Li SIGMOD'10 for the MapReduce
      // shape) indexes each set's p = |s| - ceil(0.9·|s|) + 1 rarest
      // tokens and equi-joins on them; on THIS corpus it cut distinct
      // candidates only 973k → 945k (-3%) while generating 2.2M
      // pre-distinct pairs plus a df aggregate, a per-group window
      // sort, and two array re-attach joins — sf1x standalone median
      // 16 s vs 7 s for the blocked shape. The synthetic vocabulary
      // is too small for "rare token" selectivity; the size band
      // already does the pruning prefix filtering would. The groups
      // frame IS now persisted (the experiment's one keeper): the
      // fingerprint pipeline above feeds both join sides and the
      // within-group expansion — one materialization, not three.
      val gp = graft.CacheRegistry.persistTracked(groups,
        graft.CacheRegistry.DataSized) // ≤ one row per distinct fingerprint
      // `lang` alone has ~5 values, so a plain self-equi-join
      // degenerates to 5 giant tasks no matter how many cores exist.
      // Each side is replicated across B block ids so the join key
      // (lang, blk_a, blk_b) fans out to 5·B² balanced cells — the
      // standard triangle-join parallelization for dense self-joins.
      val B = 6
      val g = gp.withColumn("blk",
        (gf.stableHash(col("fp")) % B).cast("int"))
      // The probe side must be physically fanned out; explicit count
      // because AQE would coalesce these byte-tiny but compute-heavy
      // partitions back together.
      val a = g.withColumn("blk_b", explode(sequence(lit(0), lit(B - 1))))
        .withColumnRenamed("blk", "blk_a")
        .repartition(B * B, col("lang"), col("blk_a"), col("blk_b")).as("a")
      val b = g.withColumn("blk_a", explode(sequence(lit(0), lit(B - 1))))
        .withColumnRenamed("blk", "blk_b").as("b")
      val sizeBand = // necessary condition for J >= 0.9; cheap int math
        col("a.ntok") * 9 <= col("b.ntok") * 10 &&
        col("b.ntok") * 9 <= col("a.ntok") * 10
      // |A ∩ B| via the native two-pointer merge over the sorted
      // arrays — size(array_intersect(..)) builds a hash set AND an
      // output array per pair only to throw both away for the scalar;
      // on millions of candidate pairs that allocation rate (not heap
      // size) is what stalls the suite. The two-pointer kernel is
      // O(|A|+|B|) compares with ZERO allocation.
      val inter = org.apache.spark.sql.graft.CatalystBridge.column(
        graft.plans.SortedIntersectSize(
          org.apache.spark.sql.graft.CatalystBridge.expr(col("a.toks")),
          org.apache.spark.sql.graft.CatalystBridge.expr(col("b.toks"))))
      // |A∪B| = |A| + |B| - |A∩B| for sets — no concat+distinct array.
      val candidates = a.join(b,
          col("a.lang") === col("b.lang") &&
          col("a.blk_a") === col("b.blk_a") &&
          col("a.blk_b") === col("b.blk_b") &&
          col("a.fp") < col("b.fp") && sizeBand)
        .select(col("a.ids").as("ids_a"), col("b.ids").as("ids_b"),
          col("a.ntok").as("na"), col("b.ntok").as("nb"), inter.as("inter"))
      // Stage probe — candidate GENERATION only: the identical
      // triangle-blocked join with the intersect kernel replaced by a
      // size sum, so the token arrays still ride the fan-out exchange
      // (column pruning would otherwise drop them and flatter the
      // join) but no per-pair merge runs. Consumed by BenchQ30.
      val candidateShape = a.join(b,
          col("a.lang") === col("b.lang") &&
          col("a.blk_a") === col("b.blk_a") &&
          col("a.blk_b") === col("b.blk_b") &&
          col("a.fp") < col("b.fp") && sizeBand)
        .select(sum(size(col("a.toks")) + size(col("b.toks")))
          .as("szsum"), count(lit(1)).as("n_cand"))
      // Typed barrier: a Column filter on the jaccard would get pushed
      // into the join CONDITION, where the intersection would run on
      // every hash-bucket probe before the cheap band/order
      // predicates; and a Project computing inter/(na+nb-inter) would
      // evaluate the intersection TWICE after project collapse. The
      // closure is opaque to Catalyst: the intersection stays in the
      // post-join project, computed once per surviving candidate, and
      // the division is plain JVM arithmetic.
      import s.implicits._
      // Qualifying pairs kept at GROUP grain: one row per fingerprint
      // pair that survives the verify kernel, ids still as arrays.
      // This is the COLLAPSED representation — k_a·k_b doc pairs ride
      // in k_a+k_b array slots, so the frame is ~k̄× smaller than the
      // doc-pair output (sf10x: ~250 k rows of 100-long arrays vs
      // 2.48 B expanded rows). Persisting HERE (DISK_ONLY, write-once)
      // is what lets the contract sort see exact output volume without
      // ever caching anything output-sized: the weights pass below
      // reads this frame, and the expansion reads it again straight
      // into the correctly-sized sort shuffle. The verify join
      // executes exactly once.
      val qual = graft.CacheRegistry.persistTracked(
        candidates.as[(Seq[Long], Seq[Long], Int, Int, Int)]
          .map { case (ia, ib, na, nb, i) =>
            (ia, ib, i.toDouble / (na + nb - i)) }
          .filter(_._3 >= 0.9)
          .toDF("ids_a", "ids_b", "jaccard"),
        graft.CacheRegistry.OutputSized,
        org.apache.spark.storage.StorageLevel.DISK_ONLY)
      val crossPairs = qual
        .select(explode(col("ids_a")).as("x"), col("ids_b"), col("jaccard"))
        .select(col("x"), explode(col("ids_b")).as("y"), col("jaccard"))
        .select(least(col("x"), col("y")).as("doc_a"),
          greatest(col("x"), col("y")).as("doc_b"), col("jaccard"))
      // Within-group pairs: identical token sets, jaccard exactly 1.0.
      val withinPairs = gp.filter(size(col("ids")) > 1)
        .select(explode(flatten(transform(col("ids"), (x, i) =>
          transform(
            slice(col("ids"), i + lit(2), size(col("ids")) - i - lit(1)),
            y => struct(x.as("doc_a"), y.as("doc_b")))))).as("p"))
        .select(col("p.doc_a"), col("p.doc_b"), lit(1.0).as("jaccard"))
      // Contract ORDER BY with ONE execution and ZERO output-sized
      // caches (round-7 verdict #1). A plain orderBy range-partitions
      // its input, and RangePartitioner's sample pass EXECUTES the
      // whole blocked verify join once before the sort pass executes
      // it again; round 7's DISK_ONLY cache fixed the double compute
      // but wrote the output-sized pair frame twice (cache + sort
      // shuffle — ~90 GB scratch at sf10x, DNF at 99% of disk).
      // Instead, split bounds for doc_a come from the ALREADY
      // PERSISTED groups frame: each doc at ascending position p of a
      // k-dup group is doc_a for exactly (k-1-p) within-group pairs
      // (+1 smoothing for cross-group matches), so the weighted
      // doc-id distribution predicts the pair frame's doc_a
      // distribution without executing the join. RangeSort then
      // steers bucket i to partition i and sorts within partitions —
      // the verify join runs exactly once, straight into the sort
      // shuffle. The two bound actions (min/max + ≤4096-cell collect)
      // run on the cached gp frame, replacing a sample collect that
      // executed the output-sized child.
      val pairs = crossPairs.union(withinPairs)
        .select(col("doc_a"), col("doc_b"),
          gf.roundz(col("jaccard"), 4).as("jaccard"))
      val parts = s.conf.get("spark.sql.shuffle.partitions").toInt
      // doc_a weight model, BOTH pair families (the sf10x lesson: the
      // within-group term alone under-predicted 2.48 B pairs as 25 M,
      // so the sort stayed at 32 partitions and 77 M-row in-partition
      // sorts OOM'd the heap):
      //  - within-group (exact): the doc at ascending position p of a
      //    k-group is doc_a for k−1−p pairs (+1 smoothing);
      //  - cross-group (from the persisted qual frame): a member of A
      //    pairs with every member of B and is doc_a for the ~half
      //    where its id is the smaller — expectation k_b/2 per member
      //    of A and k_a/2 per member of B. Approximation only skews
      //    BALANCE (a fat partition spills); order is never affected.
      // Total predicted weight ≈ true pair count, which is what sizes
      // the partition count in weightedBounds.
      val withinWeights = gp
        .select(size(col("ids")).as("k"),
          posexplode(col("ids")).as(Seq("pos", "d")))
        .select(col("d").as("key"),
          (col("k") - col("pos")).cast("long").as("weight"))
      val crossWeights = qual
        .select(size(col("ids_b")).as("kb"), explode(col("ids_a")).as("d"))
        .select(col("d").as("key"),
          greatest(col("kb") / 2, lit(1)).cast("long").as("weight"))
        .unionAll(qual
          .select(size(col("ids_a")).as("ka"), explode(col("ids_b")).as("d"))
          .select(col("d").as("key"),
            greatest(col("ka") / 2, lit(1)).cast("long").as("weight")))
      val docWeights = withinWeights.unionAll(crossWeights)
      val bounds = graft.operators.RangeSort.weightedBounds(docWeights, parts)
      val output = graft.operators.RangeSort.sortedByBounds(
        pairs, col("doc_a"), bounds, Seq(col("doc_b")))
      Q30Stages(gp, candidateShape, candidates.select(sum(col("inter"))
        .as("inter_sum"), count(lit(1)).as("n_cand")), qual, output)
  }

  /** IVF-bucketed embedding near-dup candidate pairs with exact cosine
    * ≥ [[EmbDupThreshold]] — shared by q47 (pair listing) and q66
    * (semantic-dedup clustering). Buckets come from the trained
    * centroids ([[graft.operators.Similarity.trainCentroids]]); pairs
    * are generated within buckets only, never all-pairs. */
  private val EmbDupThreshold = 0.42

  /** DISTINCT-CONTENT COLLAPSE of the embedding near-dup machinery
    * (the q162/q125 contract on the raw pair stream), shared by q47
    * (pair listing) and q66 (clustering): bucket and pairwise cosine
    * are pure functions of vector CONTENT, so the quadratic stage —
    * in-bucket cosine scoring — runs over one representative per
    * distinct embedding (gid = min member id, riding the shared
    * session IVF index). With duplication factor d the scored
    * candidate volume shrinks d². Returns
    * `(groups, gpairs, selfdups)`:
    *   - groups: (gid, __ids) — every distinct content with its
    *     SORTED member-id list (persisted: ≤ one row per distinct
    *     vector, referenced by both the pair and the member side);
    *   - gpairs: (ga, gb, cos, ids_a, ids_b) — surviving cross-group
    *     pairs (same bucket, ga < gb, cosine ≥ threshold);
    *   - selfdups: (gid, __ids, cos) — dup groups (n ≥ 2) whose
    *     self-cosine survives the threshold (≈ 1, but spelled exactly
    *     — sqrt(d)² ≠ d in floats, so never assume 1.0). */
  private[queries] def embDupCollapsed(s: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame) = {
    import graft.operators.Similarity
    // Session-materialized since r15 (the [[repPairsFor]] stance
    // carried to the embedding side): the distinct-vector groups, the
    // in-bucket group-pair join (the quadratic half of q47/q66) and
    // the self-dup frame build once per (session, corpus) and land as
    // warehouse tables; both consumers then probe. The selfdups table
    // is written LAST — the family's witness. Cosines are computed once
    // at build and round-trip parquet bit-exactly.
    val Seq(gT, pT, sT) =
      Seq("graft_egroups", "graft_egpairs", "graft_eselfdups")
        .map(SharedTable.indexName(s, _, dir))
    SharedTable.materialize(s, Seq(gT, pT, sT)) {
      val idx = Similarity.sharedIvfIndex(Tables.embeddings(s, dir), dir)
      val emb = Tables.embeddings(s, dir)
      val groups = graft.CacheRegistry.persistTracked(
        emb.groupBy(col("embedding"))
          .agg(sort_array(collect_list(col("vec_id"))).as("__ids"))
          .select(element_at(col("__ids"), 1).as("gid"), col("__ids")),
        graft.CacheRegistry.DataSized) // ≤ one row per distinct vector
      val reps = s.table(idx.assignedTable)
        .join(groups.withColumnRenamed("gid", "vec_id"), "vec_id")
      val a = reps.select(col("vec_id").as("ga"), col("e").as("ea"),
        col("nrm").as("nra"), col("bucket"), col("__ids").as("ids_a"))
      val b = reps.select(col("vec_id").as("gb"), col("e").as("eb"),
        col("nrm").as("nrb"), col("bucket"), col("__ids").as("ids_b"))
      val cosAB = Similarity.dot(col("ea"), col("eb")) /
        (col("nra") * col("nrb"))
      val gpairs = a.join(b, Seq("bucket"))
        .filter(col("ga") < col("gb") && cosAB >= EmbDupThreshold)
        .select(col("ga"), col("gb"), cosAB.as("cos"),
          col("ids_a"), col("ids_b"))
      val selfCos = Similarity.dot(col("e"), col("e")) /
        (col("nrm") * col("nrm"))
      val selfdups = reps.filter(size(col("__ids")) >= 2 &&
          selfCos >= EmbDupThreshold)
        .select(col("vec_id").as("gid"), col("__ids"), selfCos.as("cos"))
      val n = SharedTable.shardCount(s, dir)
      graft.sources.FileIO.writeBucketedTable(groups, gT, "gid", n)
      graft.sources.FileIO.writeBucketedTable(gpairs, pT, "ga", n)
      graft.sources.FileIO.writeBucketedTable(selfdups, sT, "gid", n)
      // groups' tracked persist is reclaimed by the caller's normal
      // drain (Bench/Verify per-query, CacheRegistry auto-drain when
      // embedded) — the build only runs once per (session, corpus).
    }
    (s.table(gT), s.table(pT), s.table(sT))
  }

  /** Raw-parity pair EXPANSION over [[embDupCollapsed]]: a raw pair
    * (x, y) is in-bucket iff its groups share a bucket
    * (content-determined assignment), its cosine equals the group
    * pair's, and the x < y orientation maps to least/greatest over
    * cross-group member pairs plus the x < y upper triangle within a
    * group. The expansion only materializes rows the raw join would
    * also have emitted (the output itself). */
  private def embPairs(s: SparkSession, dir: String): DataFrame = {
    val (_, gpairs, selfdups) = embDupCollapsed(s, dir)
    val cross = gpairs
      .select(explode(col("ids_a")).as("va"), col("ids_b"), col("cos"))
      .select(col("va"), explode(col("ids_b")).as("vb"), col("cos"))
      .select(least(col("va"), col("vb")).as("vec_a"),
        greatest(col("va"), col("vb")).as("vec_b"), col("cos"))
    val within = selfdups
      .select(explode(col("__ids")).as("vec_a"), col("__ids"), col("cos"))
      .select(col("vec_a"), explode(col("__ids")).as("vec_b"), col("cos"))
      .filter(col("vec_a") < col("vec_b"))
    cross.union(within)
  }

  /** Oracle twin of [[embPairs]]: WITH chain ending in
    * `epairs(vec_a, vec_b, cos)`. */
  private lazy val embPairsSql: String =
    s"""WITH v AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      |  FROM embeddings
      |), n AS (
      |  SELECT vec_id, e, sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm FROM v
      |), ${AnnQueries.centroidCtes(nCent = 16, trainN = 128, iters = 2)}, assigned AS (
      |  SELECT vec_id, e, nrm, cent_id AS bucket FROM (
      |    SELECT c.vec_id, c.e, c.nrm, t.cent_id,
      |      row_number() OVER (PARTITION BY c.vec_id
      |        ORDER BY list_sum(list_transform(generate_series(1, len(c.e)),
      |          i -> c.e[i] * t.ce[i])) / (c.nrm * t.cn) DESC, t.cent_id) AS arank
      |    FROM n c CROSS JOIN cent t
      |  ) WHERE arank = 1
      |), epairs AS (
      |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
      |    round(list_sum(list_transform(generate_series(1, len(a.e)),
      |      i -> a.e[i] * b.e[i])) / (a.nrm * b.nrm), 6) + 0.0 AS cos
      |  FROM assigned a JOIN assigned b
      |    ON a.bucket = b.bucket AND a.vec_id < b.vec_id
      |  WHERE list_sum(list_transform(generate_series(1, len(a.e)),
      |      i -> a.e[i] * b.e[i])) / (a.nrm * b.nrm) >= $EmbDupThreshold
      |)""".stripMargin

  private val SimhashBits = 16

  /** Oracle-side simhash CTE chain ending in `fp(doc_id, simhash)` —
    * shared by q29 (fingerprints) and q59 (near-dup pairing). */
  private lazy val simhashFpSql: String = {
    val votes = (0 until SimhashBits).map(b =>
      s"sum(CASE WHEN (h >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS v$b").mkString(", ")
    val recon = (0 until SimhashBits).map(b =>
      s"(CASE WHEN v$b > 0 THEN ${1L << b} ELSE 0 END)").mkString(" + ")
    s"""toks AS (
       |  SELECT DISTINCT doc_id, tok FROM (
       |    SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS tok
       |    FROM documents
       |  ) WHERE tok <> ''
       |), hashed AS (
       |  SELECT doc_id, CAST(concat('0x', substr(md5(tok), 1, 15)) AS BIGINT) AS h
       |  FROM toks
       |), votes AS (
       |  SELECT doc_id, $votes FROM hashed GROUP BY doc_id
       |), fp AS (
       |  SELECT doc_id, CAST($recon AS BIGINT) AS simhash FROM votes
       |)""".stripMargin
  }

  /** Spark-side simhash fingerprints `(doc_id, simhash)` — the per-bit
    * majority vote over distinct-token hashes, one groupBy. */
  private def simhashed(docs: DataFrame): DataFrame = {
    val toks = docs
      .fanOutScan(col("doc_id")) // scale-adaptive scan fan-out (r16)
      .select(col("doc_id"), explode(array_distinct(gf.tokens(col("text")))).as("tok"))
    val hashed = toks.withColumn("h", gf.stableHash(col("tok")))
    val voteCols = (0 until SimhashBits).map { b =>
      sum(when(shiftright(col("h"), b).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"v$b")
    }
    hashed.groupBy("doc_id").agg(voteCols.head, voteCols.tail: _*)
      .select(col("doc_id"),
        (0 until SimhashBits).map { b =>
          when(col(s"v$b") > 0, lit(1L << b)).otherwise(lit(0L))
        }.reduce(_ + _).as("simhash"))
  }

  /** Approximate twin of q63 (`approx_percentile`, t-digest): for
    * metrics whose value space is NOT bounded — raw byte lengths,
    * float scores — the exact percentile's O(distinct values) buffer
    * stops being safe, and the fixed-size sketch is the 100 TB path.
    * Same output shape as q63 so the two are directly comparable;
    * `accuracy` is Spark's inverse-error knob (error ≈ 1/accuracy of
    * the rank, i.e. 10000 → 0.01% rank error). */
  def lengthProfileApprox(s: SparkSession, dir: String,
      accuracy: Int = 10000): DataFrame =
    Tables.documents(s, dir)
      .select(col("lang"), size(gf.tokens(col("text"))).cast("double").as("n"))
      .groupBy("lang")
      .agg(
        gf.roundz(expr(s"approx_percentile(n, 0.5D, $accuracy)"), 4).as("p50"),
        gf.roundz(expr(s"approx_percentile(n, 0.9D, $accuracy)"), 4).as("p90"),
        gf.roundz(expr(s"approx_percentile(n, 0.99D, $accuracy)"), 4).as("p99"),
        count(lit(1)).as("n_docs"))
      .orderBy("lang")

  val defs: Seq[QueryDef] = Seq(
    // Exact dedup: hash-groupBy, keep min doc_id per content hash.
    QueryDef("q27_dedup_exact",
      """SELECT md5(text) AS text_hash, count(*) AS dup_cnt,
        |  min(doc_id) AS keeper_id
        |FROM documents GROUP BY 1 ORDER BY keeper_id""".stripMargin) { (s, dir) =>
      Tables.documents(s, dir)
        .groupBy(md5(col("text")).as("text_hash"))
        .agg(count(lit(1)).as("dup_cnt"), min("doc_id").as("keeper_id"))
        .orderBy("keeper_id")
    },

    // MinHash + LSH near-dup candidates: shingle → 16 minhashes → 4
    // bands → self-join on band buckets → distinct candidate pairs.
    QueryDef("q28_minhash_lsh",
      s"""$lshPairsSql
         |SELECT doc_a, doc_b FROM pairs
         |ORDER BY doc_a, doc_b""".stripMargin) { (s, dir) =>
      lshPairs(s, dir).orderBy("doc_a", "doc_b")
    },

    // Fuzzy (edit-distance) dedup census (T83): the LSH candidate
    // stream (q28's banded minhash — candidate volume bounded by
    // bucket sizes, never all-pairs) verified by Levenshtein distance
    // over a NORMALIZED 80-char prefix — the bounded-cost verify
    // production fuzzy-dedup runs on titles/keys (full-document edit
    // distance is O(len²) per pair and never ships). Pairs census by
    // distance band.
    // Scale note: two doc_id equi-joins fetch the prefix for each
    // side of the bounded candidate stream; per-pair work is
    // O(80²) constant. Census output is 4 rows.
    QueryDef("q125_fuzzy_dedup",
      s"""$lshPairsSql, px AS (
         |  SELECT p.doc_a, p.doc_b,
         |    levenshtein(substr(trim(ta.text), 1, 80),
         |                substr(trim(tb.text), 1, 80)) AS d
         |  FROM pairs p
         |  JOIN documents ta ON ta.doc_id = p.doc_a
         |  JOIN documents tb ON tb.doc_id = p.doc_b
         |)
         |SELECT CASE WHEN d = 0 THEN 'exact' WHEN d <= 2 THEN 'near'
         |            WHEN d <= 8 THEN 'close' ELSE 'far' END AS band,
         |  count(*) AS pairs,
         |  CAST(min(d) AS BIGINT) AS min_d, CAST(max(d) AS BIGINT) AS max_d
         |FROM px GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      // Distinct-content collapse (the q30/q59 principle): identical
      // texts share identical minhash signatures, so EVERY in-group
      // pair is a candidate at distance 0 and every cross-group pair
      // inherits its representatives' band-collision verdict and
      // prefix distance. Banding + Levenshtein therefore run over
      // DISTINCT texts only; the census expands arithmetically
      // (C(n,2) within, nA·nB across). On a dup-heavy corpus the
      // naive pair stream grows with replicas² (measured: 5.0 s sf1x
      // → 117 s sf10x, a 110× pair volume for 10× data) while this
      // shape tracks distinct content.
      val groups = textGroupsFor(s, dir) // shared disk-backed groups
      val repPairs = repPairsFor(s, dir) // shared banding result
      val meta = groups.select(col("doc_id"),
        substring(col("txt"), 1, 80).as("pfx"), col("n"))
      val cross = repPairs
        .join(meta.select(col("doc_id").as("doc_a"), col("pfx").as("pa"),
          col("n").as("na")), "doc_a")
        .join(meta.select(col("doc_id").as("doc_b"), col("pfx").as("pb"),
          col("n").as("nb")), "doc_b")
        .select(levenshtein(col("pa"), col("pb")).cast("int").as("d"),
          (col("na") * col("nb")).as("cnt"))
      // Gate on >= 3 tokens: a shorter text yields zero 3-shingles, so
      // the oracle's pipeline gives it NO signature and NO candidate
      // pairs — its duplicate group must not contribute an 'exact' row
      // here either (cross-group pairs are gated automatically: a
      // signature-less rep never lands in a band bucket).
      val within = groups
        .filter(col("n") >= 2 && col("sig"))
        .select(lit(0).as("d"),
          expr("(n * (n - 1)) div 2").as("cnt"))
      cross.union(within)
        .select(
          when(col("d") === 0, "exact").when(col("d") <= 2, "near")
            .when(col("d") <= 8, "close").otherwise("far").as("band"),
          col("d"), col("cnt"))
        .groupBy("band")
        .agg(sum("cnt").as("pairs"),
          min("d").cast("long").as("min_d"),
          max("d").cast("long").as("max_d"))
        .orderBy("band")
    },

    // T138 — containment census (Broder 1997's second resemblance
    // measure — public knowledge): directional |A∩B| / |A| over the
    // LSH candidates, the asymmetric companion to q30's symmetric
    // Jaccard. Jaccard misses SUB-DOCUMENT inclusion (a doc quoted
    // whole inside a 10× larger one scores J ≈ 0.1 but containment
    // 1.0) — the shape quote-chains, boilerplate wrappers and
    // scrape-of-scrape corpora actually take. The census is
    // ORDER-FREE by design (mutual / one_way / below on max and
    // min of the two directions): which id side contains which is an
    // artifact of id assignment; how much one-way inclusion exists is
    // the curation signal — and order-freedom is what lets the
    // dup-heavy production path collapse to DISTINCT CONTENT
    // (identical texts ⇒ identical shingle sets ⇒ identical (ca, cb)
    // up to swap) and expand counts arithmetically (C(n,2) within a
    // content group at containment 1.0, nA·nB across) — the
    // q125/q156 measured lesson; the naive raw-pair stream grew to
    // 165 s at sf10x where this shape tracks distinct content.
    // Per-rep-pair work is two exact integer set sizes; every emitted
    // double is an int/int division — deterministic at any layout
    // with no rounding bet.
    QueryDef("q159_containment",
      s"""$lshPairsSql, sizes AS (
         |  SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
         |), inter AS (
         |  SELECT p.doc_a, p.doc_b, count(b.tok) AS ninter
         |  FROM pairs p
         |  LEFT JOIN sh a ON a.doc_id = p.doc_a
         |  LEFT JOIN sh b ON b.doc_id = p.doc_b AND b.tok = a.tok
         |  GROUP BY p.doc_a, p.doc_b
         |), cont AS (
         |  SELECT i.doc_a, i.doc_b,
         |    CAST(i.ninter AS DOUBLE) / sa.n AS ca,
         |    CAST(i.ninter AS DOUBLE) / sb.n AS cb
         |  FROM inter i
         |  JOIN sizes sa ON sa.doc_id = i.doc_a
         |  JOIN sizes sb ON sb.doc_id = i.doc_b
         |)
         |SELECT CASE WHEN ca >= 0.8 AND cb >= 0.8 THEN 'mutual'
         |            WHEN ca >= 0.8 OR cb >= 0.8 THEN 'one_way'
         |            ELSE 'below' END AS relation,
         |  count(*) AS n_pairs,
         |  round(min(CASE WHEN ca >= cb THEN ca ELSE cb END), 6) + 0.0 AS min_maxc,
         |  round(max(CASE WHEN ca >= cb THEN ca ELSE cb END), 6) + 0.0 AS max_maxc
         |FROM cont GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      import graft.operators.MinHashLsh
      val groups = textGroupsFor(s, dir) // shared disk-backed groups
      val reps = groups.select(col("doc_id"), col("txt").as("text"))
      val repPairs = repPairsFor(s, dir) // shared banding result
      val sets = MinHashLsh.shingles(reps)
        .groupBy("doc_id").agg(collect_set(col("tok")).as("sh"))
        .join(groups.select(col("doc_id"), col("n")), "doc_id")
      val ca = size(array_intersect(col("sa"), col("sb"))).cast("double") /
        size(col("sa"))
      val cb = size(array_intersect(col("sa"), col("sb"))).cast("double") /
        size(col("sb"))
      val cross = repPairs
        .join(sets.select(col("doc_id").as("doc_a"), col("sh").as("sa"),
          col("n").as("na")), "doc_a")
        .join(sets.select(col("doc_id").as("doc_b"), col("sh").as("sb"),
          col("n").as("nb")), "doc_b")
        .select(ca.as("ca"), cb.as("cb"), (col("na") * col("nb")).as("cnt"))
      // Identical-content pairs: containment 1.0 both ways, C(n,2)
      // raw pairs — gated on the group actually having a shingle
      // signature (< 3 tokens ⇒ no signature ⇒ no raw candidates).
      val within = groups
        .filter(col("n") >= 2 && col("sig"))
        .select(lit(1.0).as("ca"), lit(1.0).as("cb"),
          expr("(n * (n - 1)) div 2").as("cnt"))
      cross.union(within)
        .select(
          when(col("ca") >= 0.8 && col("cb") >= 0.8, "mutual")
            .when(col("ca") >= 0.8 || col("cb") >= 0.8, "one_way")
            .otherwise("below").as("relation"),
          greatest(col("ca"), col("cb")).as("maxc"), col("cnt"))
        .groupBy("relation")
        .agg(sum("cnt").as("n_pairs"),
          gf.roundz(min("maxc"), 6).as("min_maxc"),
          gf.roundz(max("maxc"), 6).as("max_maxc"))
        .orderBy("relation")
    },

    // SimHash fingerprints: per-bit majority vote over token hashes.
    QueryDef("q29_simhash",
      s"WITH $simhashFpSql\nSELECT doc_id, simhash FROM fp ORDER BY doc_id") { (s, dir) =>
      simhashed(Tables.documents(s, dir)).orderBy("doc_id")
    },

    // n-gram (token-set) Jaccard near-dup verification, bucketed by
    // lang so the self-join is per-bucket, never all-pairs. Length
    // filtering prunes before the expensive intersection: J >= 0.9
    // forces |A| and |B| within a 9/10 factor (|B| <= |A∪B| <=
    // |A∩B|/0.9 <= |A|/0.9), so the size-band predicate sits in the
    // join condition and the per-pair set intersection runs only on
    // survivors — at corpus scale this is the difference between
    // O(pairs) string work and O(pairs) integer compares.
    QueryDef("q30_jaccard_pairs",
      """WITH t AS (
        |  SELECT doc_id, lang,
        |    list_sort(list_distinct(list_filter(
        |      string_split_regex(trim(text), '\s+'), x -> x <> ''))) AS toks
        |  FROM documents
        |)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  round(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
        |        / len(list_distinct(list_concat(a.toks, b.toks))), 4) + 0.0 AS jaccard
        |FROM t a JOIN t b ON a.lang = b.lang AND a.doc_id < b.doc_id
        |WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
        |      / len(list_distinct(list_concat(a.toks, b.toks))) >= 0.9
        |ORDER BY doc_a, doc_b""".stripMargin) { (s, dir) =>
      jaccardStages(s, dir).output
    },

    // Brute-force cosine similarity baseline: for each query vector
    // (vec_id < 16), neighbor count above threshold + max cosine.
    // Dot/norm computed as a sequential double fold in BOTH engines so
    // the oracle agrees bit-for-bit before rounding.
    QueryDef("q31_similarity_stats",
      """WITH v AS (
        |  SELECT vec_id, label,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        |  FROM embeddings
        |), n AS (
        |  SELECT vec_id, label, e, sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm
        |  FROM v
        |), pairs AS (
        |  SELECT q.vec_id AS qid,
        |    list_sum(list_transform(generate_series(1, len(q.e)),
        |      i -> q.e[i] * c.e[i])) / (q.nrm * c.nrm) AS cos
        |  FROM n q JOIN n c ON q.vec_id < 16 AND c.vec_id <> q.vec_id
        |)
        |SELECT qid AS vec_id, count(*) FILTER (WHERE cos >= 0.7) AS neighbor_cnt,
        |  round(max(cos), 6) + 0.0 AS max_cos
        |FROM pairs GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      import graft.operators.Similarity
      val v = Tables.embeddings(s, dir)
        .select(col("vec_id"), col("label"),
          transform(col("embedding"), x => x.cast("double")).as("e"))
      val n = v.withColumn("nrm", Similarity.norm(col("e")))
      val q = n.filter(col("vec_id") < 16)
        .select(col("vec_id").as("qid"), col("e").as("qe"), col("nrm").as("qn"))
      val cos = Similarity.dot(col("qe"), col("e")) / (col("qn") * col("nrm"))
      broadcast(q).join(n, col("vec_id") =!= col("qid"))
        .select(col("qid"), cos.as("cos"))
        .groupBy("qid")
        .agg(
          count(when(col("cos") >= 0.7, 1)).as("neighbor_cnt"),
          gf.roundz(max(col("cos")), 6).as("max_cos"))
        .select(col("qid").as("vec_id"), col("neighbor_cnt"), col("max_cos"))
        .orderBy("vec_id")
    },

    // Text quality scoring: token counts, stopword ratio, bucket.
    QueryDef("q32_text_quality",
      """SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
        |  round(CAST(len(list_filter(t, x -> x IN ('the', 'a'))) AS DOUBLE) / len(t), 4) + 0.0 AS stopword_ratio,
        |  CASE WHEN len(t) >= 30
        |        AND CAST(len(list_filter(t, x -> x IN ('the', 'a'))) AS DOUBLE) / len(t) < 0.15
        |       THEN 'good' ELSE 'low' END AS quality
        |FROM (SELECT doc_id,
        |        list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS t
        |      FROM documents)
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      // fused TokenProfile byte scan: ONE pass, no token array (the
      // q128/q139 lesson — oracle-pinned equal to the composed form)
      val prof = org.apache.spark.sql.graft.CatalystBridge.column(
        graft.plans.TokenProfile(
          org.apache.spark.sql.graft.CatalystBridge.expr(col("text")),
          Seq("the", "a")))
      val nTokens = col("p.n_tokens")
      val ratio = col("p.n_stop").cast("double") / nTokens
      Tables.documents(s, dir)
        .fanOutScan(col("doc_id")) // scale-adaptive scan fan-out (r16)
        .select(col("doc_id"), prof.as("p"))
        .select(
          col("doc_id"),
          nTokens.as("n_tokens"),
          gf.roundz(ratio, 4).as("stopword_ratio"),
          when(nTokens >= 30 && ratio < 0.15, "good").otherwise("low").as("quality"))
        .orderBy("doc_id")
    },

    // Language-ID heuristic (marker-token voting) + corpus stats by lang.
    QueryDef("q33_lang_stats",
      """SELECT lang, count(*) AS cnt, CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |  round(CAST(sum(n_chars) AS DOUBLE) / count(*), 4) + 0.0 AS avg_chars
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      Tables.documents(s, dir)
        .groupBy("lang")
        .agg(
          count(lit(1)).as("cnt"),
          sum("n_chars").as("total_chars"),
          gf.roundz(sum("n_chars").cast("double") / count(lit(1)), 4).as("avg_chars"))
        .orderBy("lang")
    },

    // Language-ID prediction per doc: n-gram/stopword marker heuristic.
    QueryDef("q34_lang_id",
      """SELECT doc_id,
        |  CASE WHEN contains(' ' || lower(text) || ' ', ' the ') THEN 'en'
        |       WHEN contains(' ' || lower(text) || ' ', ' le ') THEN 'fr'
        |       WHEN contains(' ' || lower(text) || ' ', ' der ') THEN 'de'
        |       WHEN contains(' ' || lower(text) || ' ', ' el ') THEN 'es'
        |       ELSE 'unk' END AS predicted_lang,
        |  lang
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
      // r16 negative result: routing this CASE through the one-pass
      // PhraseScan automaton measured SLOWER at sf10x (4.4 → 6.4 s) —
      // four UTF8String.contains byte-searches beat one Aho–Corasick
      // byte-automaton walk when the pattern list is this small.
      // Kept as the contains chain deliberately.
      val padded = concat(lit(" "), lower(col("text")), lit(" "))
      Tables.documents(s, dir)
        .select(
          col("doc_id"),
          when(padded.contains(" the "), "en")
            .when(padded.contains(" le "), "fr")
            .when(padded.contains(" der "), "de")
            .when(padded.contains(" el "), "es")
            .otherwise("unk").as("predicted_lang"),
          col("lang"))
        .orderBy("doc_id")
    },

    // Token counting per source: doc count, total tokens, distinct vocab.
    QueryDef("q35_token_stats",
      """SELECT source, count(DISTINCT doc_id) AS docs,
        |  count(*) AS total_tokens, count(DISTINCT tok) AS vocab
        |FROM (
        |  SELECT doc_id, source,
        |    unnest(list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '')) AS tok
        |  FROM documents
        |) GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      // From the shared tf backbone (r15): the token stream's
      // count(DISTINCT doc_id) / count(*) / count(DISTINCT tok) per
      // source are exactly distinct-doc count / Σ tf / distinct-term
      // count over the (doc, source, term, tf) frame — token-free
      // docs are absent from both streams.
      tfFor(s, dir)
        .groupBy("source")
        .agg(
          countDistinct("doc_id").as("docs"),
          sum("tf").as("total_tokens"),
          countDistinct("term").as("vocab"))
        .orderBy("source")
    },

    // TF-IDF: top term per doc by tf·idf (idf = ln(N/df), standard
    // smooth-free form). One explode + two aggregations — df is a
    // broadcast-joined side table, never a cross product.
    QueryDef("q46_tfidf",
      """WITH toks AS (
        |  SELECT doc_id,
        |    unnest(list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '')) AS term
        |  FROM documents
        |), tf AS (
        |  SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2
        |), df AS (
        |  SELECT term, count(DISTINCT doc_id) AS df FROM toks GROUP BY 1
        |), n AS (SELECT count(*) AS n FROM documents),
        |scored AS (
        |  SELECT tf.doc_id, tf.term,
        |    round(tf.tf * ln(CAST(n.n AS DOUBLE) / df.df), 6) + 0.0 AS tfidf
        |  FROM tf JOIN df USING (term) CROSS JOIN n
        |), ranked AS (
        |  SELECT doc_id, term, tfidf,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rk
        |  FROM scored
        |)
        |SELECT doc_id, term, tfidf FROM ranked WHERE rk = 1
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      // Shared tf backbone (r15): the old tf and df branches each
      // re-exploded the corpus — two tokenize passes inside one query.
      // df(term) = tf row count (one row per (doc, term)) — the same
      // integer countDistinct(doc_id) produced over the token stream.
      val tf = tfFor(s, dir)
      val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
      // N as a LAZY broadcast 1-row aggregate (same pattern as the
      // max-SK frame in DimensionUpsert): a driver-side count() here
      // would eagerly scan the whole corpus at plan-build time and then
      // scan it again in the real job.
      val n = Tables.documents(s, dir)
        .agg(count(lit(1)).cast("double").as("n_docs"))
      // NO broadcast hint on df: it is vocabulary-sized (unbounded at
      // corpus scale, unlike the bounded 1-row N frame). AQE still
      // auto-broadcasts it while it fits the threshold.
      // Top term per doc as ONE hash aggregate (the assignToCentroids
      // pattern, min-form because the string tie-break needs the
      // SMALLEST term): min(struct(−tfidf, term)) ≡ the old
      // (tfidf desc, term asc) rank-1 window, with map-side partial
      // aggregation instead of a per-doc sort.
      tf.join(df, "term")
        .crossJoin(broadcast(n))
        .withColumn("tfidf",
          gf.roundz(col("tf") * log(col("n_docs") / col("df")), 6))
        .groupBy("doc_id")
        .agg(min(struct((-col("tfidf")).as("ntf"), col("term").as("term")))
          .as("b"))
        .select(col("doc_id"), col("b.term").as("term"),
          (-col("b.ntf")).as("tfidf"))
        .orderBy("doc_id")
    },

    // Embedding-cosine near-dup: IVF-bucketed candidate generation
    // (same deterministic index as q42) → exact cosine threshold within
    // buckets only — the embedding analog of minhash near-dup, never
    // all-pairs. The synthetic embeddings have max pairwise cosine
    // ~0.51 (no true dups), so the threshold is set low enough (0.42)
    // that the oracle verifies real values, not an empty set.
    QueryDef("q47_embedding_neardup",
      s"""$embPairsSql
        |SELECT vec_a, vec_b, cos FROM epairs
        |ORDER BY vec_a, vec_b""".stripMargin) { (s, dir) =>
      embPairs(s, dir)
        .select(col("vec_a"), col("vec_b"), gf.roundz(col("cos"), 6).as("cos"))
        .orderBy("vec_a", "vec_b")
    },

    // T141 — label-noise census: q47's IVF-bucketed near-dup pairs
    // joined back to their labels and censused by sorted label pair —
    // near-identical vectors carrying DIFFERENT labels are the label
    // errors / taxonomy collisions a training run inherits silently,
    // and the off-diagonal mass of this matrix is the standard
    // curation signal (Northcutt et al. 2021's confident-learning
    // premise — public knowledge). Reuses the shared [[embPairs]]
    // candidate stream (IVF buckets, never all-pairs — the 100 TB
    // path is the same index every other embedding query amortizes);
    // per-pair work is two label lookups via key-partitioned
    // equi-joins; cosine averaged via round(cos·1e6) micro-longs on
    // the round-6 value (the q83 idiom — no raw-double sum crosses a
    // merge).
    QueryDef("q162_label_noise",
      s"""$embPairsSql, lab AS (
         |  SELECT vec_id, label FROM embeddings
         |), pl AS (
         |  SELECT CASE WHEN la.label <= lb.label THEN la.label ELSE lb.label END AS label_lo,
         |    CASE WHEN la.label <= lb.label THEN lb.label ELSE la.label END AS label_hi,
         |    p.cos
         |  FROM epairs p
         |  JOIN lab la ON la.vec_id = p.vec_a
         |  JOIN lab lb ON lb.vec_id = p.vec_b
         |)
         |SELECT label_lo, label_hi, count(*) AS n_pairs,
         |  round(CAST(sum(CAST(round(cos * 1000000.0, 0) AS BIGINT)) AS DOUBLE)
         |    / count(*) / 1000000.0, 6) + 0.0 AS avg_cos,
         |  round(max(cos), 6) + 0.0 AS max_cos
         |FROM pl GROUP BY label_lo, label_hi
         |ORDER BY label_lo, label_hi""".stripMargin) { (s, dir) =>
      // Distinct-content collapse over the SHARED IVF index (the
      // q125/q159 principle carried to embeddings): byte-identical
      // vectors get the SAME bucket (argmax over the pinned centroid
      // chain is content-determined) and the SAME cosine against any
      // partner, so the pair census runs over distinct
      // (embedding, label) groups only — cross-group counts expand as
      // nA·nB, identical-content pairs as C(n,2) at the group's
      // self-cosine — and the dup-heavy raw pair stream (11.1 M pairs
      // at sf10x, 26×/decade at the oracle's pinned nlist) never
      // materializes. avg_cos stays exact: every raw pair of a
      // content pair shares one rounded cosine, so the weighted
      // micro-long sum equals the per-pair sum.
      import graft.operators.Similarity
      val emb = Tables.embeddings(s, dir)
      val groups = graft.CacheRegistry.persistTracked(
        emb.groupBy(col("embedding"), col("label"))
          .agg(count(lit(1)).as("n"), min("vec_id").as("vec_id")),
        graft.CacheRegistry.DataSized) // ≤ one row per distinct vector
      val idx = Similarity.sharedIvfIndex(emb, dir)
      val reps = s.table(idx.assignedTable)
        .join(groups.select(col("vec_id"), col("label"), col("n")),
          "vec_id")
      val a = reps.select(col("vec_id").as("va"), col("e").as("ea"),
        col("nrm").as("nra"), col("bucket"), col("label").as("la"),
        col("n").as("cna"))
      val b = reps.select(col("vec_id").as("vb"), col("e").as("eb"),
        col("nrm").as("nrb"), col("bucket"), col("label").as("lb"),
        col("n").as("cnb"))
      val cosAB = Similarity.dot(col("ea"), col("eb")) /
        (col("nra") * col("nrb"))
      val cross = a.join(b, Seq("bucket"))
        .filter(col("va") < col("vb") && cosAB >= EmbDupThreshold)
        .select(least(col("la"), col("lb")).as("label_lo"),
          greatest(col("la"), col("lb")).as("label_hi"),
          gf.roundz(cosAB, 6).as("cos"), (col("cna") * col("cnb")).as("cnt"))
      val selfCos = Similarity.dot(col("e"), col("e")) /
        (col("nrm") * col("nrm"))
      val within = reps.filter(col("n") >= 2 && selfCos >= EmbDupThreshold)
        .select(col("label").as("label_lo"), col("label").as("label_hi"),
          gf.roundz(selfCos, 6).as("cos"),
          expr("(n * (n - 1)) div 2").as("cnt"))
      cross.union(within)
        .groupBy("label_lo", "label_hi")
        .agg(sum("cnt").as("n_pairs"),
          gf.roundz(sum(round(col("cos") * 1000000.0, 0).cast("long")
              * col("cnt"))
            .cast("double") / sum("cnt") / 1000000.0, 6).as("avg_cos"),
          gf.roundz(max("cos"), 6).as("max_cos"))
        .orderBy("label_lo", "label_hi")
    },

    // BPE-ish token counting: word pieces + standalone punctuation via
    // regex extraction (the pre-tokenizer shape GPT-style BPE uses).
    QueryDef("q48_bpe_token_stats",
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS n_pieces,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+')) AS BIGINT) AS n_words,
        |  CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS BIGINT) AS n_punct
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
      // ONE native byte scan replaces both regexp_extract_all passes
      // (which also materialized full match arrays only to size them)
      // — java.util.regex dominated this query's sf1x profile
      // (PERF.md #16); exact character-class parity argued in
      // [[graft.plans.TokenClassCounts]]. n_pieces = n_words + n_punct
      // because the alternation's matches partition into maximal word
      // runs and single punct chars.
      val tc = org.apache.spark.sql.graft.CatalystBridge.column(
        graft.plans.TokenClassCounts(
          org.apache.spark.sql.graft.CatalystBridge.expr(col("text"))))
      Tables.documents(s, dir)
        .fanOutScan(col("doc_id")) // scale-adaptive scan fan-out (r16)
        .select(col("doc_id"), tc.as("tc"))
        .select(
          col("doc_id"),
          (col("tc.n_words") + col("tc.n_punct")).as("n_pieces"),
          col("tc.n_words").as("n_words"), col("tc.n_punct").as("n_punct"))
        .orderBy("doc_id")
    },

    // The composed training-data cleanup: quality gate → exact dedup
    // (min doc per content hash) → minhash-LSH near-dup drop (greedy:
    // greater-side of any candidate pair loses). End-to-end form of
    // q27+q28+q32 as ONE corpus operator.
    QueryDef("q50_clean_corpus",
      s"""WITH sh AS (
         |  $shingleSql
         |), hashed AS (
         |  $shingleHashSql
         |), sig AS (
         |  SELECT doc_id, $minhashSqlAggs FROM hashed GROUP BY doc_id
         |), bands AS (
         |  ${(0 until Bands).map(b =>
              s"SELECT doc_id, $b AS band_idx, ${bandSql(b)} AS band_hash FROM sig")
              .mkString("\n  UNION ALL\n  ")}
         |), losers AS (
         |  SELECT DISTINCT b.doc_id FROM bands a JOIN bands b
         |    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
         |    AND a.doc_id < b.doc_id
         |), quality AS (
         |  SELECT doc_id, text FROM (
         |    SELECT doc_id, text,
         |      list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS t
         |    FROM documents)
         |  WHERE len(t) >= 30
         |    AND CAST(len(list_filter(t, x -> x IN ('the', 'a'))) AS DOUBLE) / len(t) < 0.15
         |), exact AS (
         |  SELECT min(doc_id) AS doc_id FROM quality GROUP BY md5(text)
         |)
         |SELECT doc_id FROM exact
         |WHERE doc_id NOT IN (SELECT doc_id FROM losers)
         |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      // Loser set computed GROUP-LEVEL (lshLoserDocs) — the expanded
      // raw pair list never materializes just to be re-collapsed.
      // r16: id-only consumer → cleanCorpusSurvivorIds — exact's
      // left-semi probe re-scanned the corpus and re-ran the quality
      // profile; the keeper set already is the answer. fanOutScan
      // replaces the unconditional repartition (no-op at cluster
      // scale).
      graft.operators.Dedup.cleanCorpusSurvivorIds(
          docs.fanOutScan(col("doc_id")), lshLoserDocs(s, dir))
        .orderBy("doc_id")
    },

    // Winnowing fingerprints (MOSS-style): polynomial rolling hash
    // over 4-token windows (native O(n) RollingHashWindows expression)
    // → min per sliding window of 4 hashes → distinct per doc. The
    // oracle recomputes the same mod-2^32 polynomial positionally.
    QueryDef("q53_winnowing", {
      val B = graft.plans.RollingHashWindows.Base
      val mask = 0xffffffffL
      val b2 = (B * B) & mask
      val b3 = (b2 * B) & mask
      s"""WITH toks AS (
         |  SELECT doc_id, t FROM (
         |    SELECT doc_id,
         |      list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS t
         |    FROM documents)
         |  WHERE len(t) >= 4
         |), th AS (
         |  SELECT doc_id,
         |    list_transform(t, x ->
         |      CAST(concat('0x', substr(md5(x), 1, 15)) AS BIGINT) % 4294967296) AS h
         |  FROM toks
         |), wh AS (
         |  SELECT doc_id, i AS pos,
         |    CAST((CAST(h[i] AS HUGEINT) * $b3 + CAST(h[i+1] AS HUGEINT) * $b2
         |          + CAST(h[i+2] AS HUGEINT) * $B + h[i+3]) % 4294967296 AS BIGINT) AS wh
         |  FROM th, unnest(generate_series(1, len(h) - 3)) AS g(i)
         |), winnowed AS (
         |  SELECT doc_id,
         |    min(wh) OVER (PARTITION BY doc_id ORDER BY pos
         |                  ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS fp,
         |    pos
         |  FROM wh
         |)
         |SELECT doc_id, count(DISTINCT fp) AS n_fps,
         |  min(fp) AS min_fp, max(fp) AS max_fp
         |FROM winnowed WHERE pos >= 4
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin
    }) { (s, dir) =>
      // r16: the old shape posexploded every window hash (a
      // corpus-sized row stream), ran the sliding min as a doc-keyed
      // WindowExec (exchange + partition sort) and re-aggregated with
      // countDistinct. The walk's state is bounded by one doc's
      // windows, so the whole census fuses into the codegen'd
      // [[graft.plans.WinnowStats]] pass applied right above the scan
      // — no explode, no Window, no doc-keyed exchange
      // (WinnowStatsSpec pins equality with the window form).
      import org.apache.spark.sql.graft.CatalystBridge
      // explode(array(...)) is a Generate BARRIER: the isNotNull
      // filter references the generator output, so it cannot be
      // substituted below the fan-out exchange — without it the
      // optimizer pushes isnotnull(winnow_stats(...)) down to the
      // thin scan stage and the whole hash pass runs TWICE (guide
      // §4.4 duplication; found r16).
      Tables.documents(s, dir)
        .fanOutScan(col("doc_id"))
        .select(col("doc_id"),
          explode(array(CatalystBridge.column(graft.plans.WinnowStats(
            graft.plans.RollingHashWindows(
              CatalystBridge.expr(trim(col("text"))), 4), 4)))).as("__ws"))
        .filter(col("__ws").isNotNull) // < 4 full windows ⇒ absent
        .select(col("doc_id"), col("__ws.n_fps").as("n_fps"),
          col("__ws.min_fp").as("min_fp"), col("__ws.max_fp").as("max_fp"))
        .orderBy("doc_id")
    },

    // Deterministic train/val/test hash split — same assignment on any
    // engine/partitioning (rand()-based splits are layout-dependent).
    QueryDef("q58_hash_split",
      """SELECT split, lang, count(*) AS cnt FROM (
        |  SELECT lang,
        |    CASE WHEN b < 80 THEN 'train'
        |         WHEN b < 90 THEN 'val' ELSE 'test' END AS split
        |  FROM (SELECT lang,
        |          CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 AS b
        |        FROM documents)
        |) GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, dir) =>
      graft.operators.Sampling.hashSplit(
          Tables.documents(s, dir), "doc_id")
        .groupBy("split", "lang").agg(count(lit(1)).as("cnt"))
        .orderBy("split", "lang")
    },

    // T147 — cross-split LEAKAGE census: near-dup candidate pairs
    // spanning the train/val/test boundary — the eval-integrity
    // number (a val doc near-duplicating a train doc inflates every
    // metric computed on it; Lee et al. 2022's dedup-before-split
    // lesson). Composes T2's banding with T17's hash split: census
    // of candidate pairs by SORTED split pair — the off-diagonal
    // rows ARE the leakage. Born with the distinct-content collapse
    // (the q125/q159/q162 production shape): banding runs over
    // distinct texts with per-split member counts carried alongside;
    // cross-content pairs expand as the 3×3 count product of the two
    // groups' split vectors, identical-content pairs as the C(n,2) /
    // nᵢ·nⱼ split-multinomial of ONE group — a million exact dups
    // split 80/10/10 are one arithmetic row, never 10¹²-pair
    // buckets. All counts exact integers at any layout.
    QueryDef("q167_split_leakage",
      s"""$lshPairsSql, sp AS (
         |  SELECT doc_id, CASE WHEN b < 80 THEN 'train'
         |    WHEN b < 90 THEN 'val' ELSE 'test' END AS split
         |  FROM (SELECT doc_id,
         |     CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
         |       AS BIGINT) % 100 AS b FROM documents)
         |), px AS (
         |  SELECT CASE WHEN sa.split <= sb.split THEN sa.split
         |              ELSE sb.split END AS split_lo,
         |    CASE WHEN sa.split <= sb.split THEN sb.split
         |         ELSE sa.split END AS split_hi
         |  FROM pairs p
         |  JOIN sp sa ON sa.doc_id = p.doc_a
         |  JOIN sp sb ON sb.doc_id = p.doc_b
         |)
         |SELECT split_lo, split_hi, count(*) AS n_pairs
         |FROM px GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, dir) =>
      val splits = Seq("test", "train", "val")
      // Shared disk-backed groups carry the per-split member counts
      // (split = f(doc_id), computed once for the whole family).
      val groups = textGroupsFor(s, dir)
      val repPairs = repPairsFor(s, dir) // shared banding result
      val a = groups.select((col("doc_id").as("doc_a") +:
        splits.map(x => col(s"n_$x").as(s"a_$x"))): _*)
      val b = groups.select((col("doc_id").as("doc_b") +:
        splits.map(x => col(s"n_$x").as(s"b_$x"))): _*)
      val crossCombos = for (x <- splits; y <- splits) yield {
        val (lo, hi) = if (x <= y) (x, y) else (y, x)
        struct(lit(lo).as("split_lo"), lit(hi).as("split_hi"),
          (col(s"a_$x") * col(s"b_$y")).as("cnt"))
      }
      val cross = repPairs.join(a, "doc_a").join(b, "doc_b")
        .select(explode(array(crossCombos: _*)).as("c"))
        .select(col("c.split_lo"), col("c.split_hi"), col("c.cnt"))
      // Identical-content pairs: the group's own split multinomial —
      // gated on a shingle signature existing (< 3 tokens ⇒ no
      // candidates), exactly as the raw stream would gate them.
      val sameCombos =
        splits.map(x => struct(lit(x).as("split_lo"), lit(x).as("split_hi"),
          expr(s"(n_$x * (n_$x - 1)) div 2").as("cnt"))) ++
        (for (i <- splits.indices; j <- i + 1 until splits.size) yield
          struct(lit(splits(i)).as("split_lo"),
            lit(splits(j)).as("split_hi"),
            (col(s"n_${splits(i)}") * col(s"n_${splits(j)}")).as("cnt")))
      val within = groups
        .filter(col("sig"))
        .select(explode(array(sameCombos: _*)).as("c"))
        .select(col("c.split_lo"), col("c.split_hi"), col("c.cnt"))
      cross.union(within)
        .filter(col("cnt") > 0)
        .groupBy("split_lo", "split_hi")
        .agg(sum("cnt").as("n_pairs"))
        .orderBy("split_lo", "split_hi")
    },

    // T149 — quality-filter SURVIVAL CURVE: for a grid of stopword-
    // ratio cuts (0‰..300‰ in 25‰ steps, q32's gate family), how many
    // docs and how many TOKENS survive, and what share of the corpus'
    // token mass that is — the operating characteristic a 100 TB
    // filtering run needs BEFORE it commits to a threshold (re-running
    // the filter per candidate cut is a corpus pass each; this is ONE
    // pass for every cut at once). Exactness: the cut is evaluated in
    // integers (1000·n_stop < t‰·n_tokens — no float boundary), and
    // each gated doc contributes to a single histogram bucket j_min =
    // the first grid index it survives at; the curve is the suffix-
    // cumulative of a 13-bucket histogram, so the corpus never fans
    // out grid-wide. The q32 30-token gate applies at every cut.
    QueryDef("q169_filter_sweep",
      """WITH d AS (
        |  SELECT len(list_filter(string_split_regex(trim(text), '\s+'),
        |           x -> x <> '')) AS n_tokens,
        |    len(list_filter(string_split_regex(trim(text), '\s+'),
        |           x -> x IN ('the', 'a'))) AS n_stop
        |  FROM documents
        |), tot AS (SELECT CAST(sum(n_tokens) AS DOUBLE) AS tt FROM d),
        |g AS (SELECT unnest(generate_series(0, 12)) AS j)
        |SELECT 25 * g.j AS t_permille,
        |  CAST(count(*) FILTER (WHERE d.n_tokens >= 30
        |    AND 1000 * d.n_stop < 25 * g.j * d.n_tokens) AS BIGINT) AS n_docs,
        |  CAST(coalesce(sum(d.n_tokens) FILTER (WHERE d.n_tokens >= 30
        |    AND 1000 * d.n_stop < 25 * g.j * d.n_tokens), 0) AS BIGINT)
        |    AS n_tokens,
        |  round(CAST(coalesce(sum(d.n_tokens) FILTER (WHERE d.n_tokens >= 30
        |    AND 1000 * d.n_stop < 25 * g.j * d.n_tokens), 0) AS DOUBLE)
        |    / tot.tt, 6) + 0.0 AS token_share
        |FROM g CROSS JOIN d CROSS JOIN tot
        |GROUP BY g.j, tot.tt ORDER BY t_permille""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.graft.CatalystBridge
      val prof = CatalystBridge.column(graft.plans.TokenProfile(
        CatalystBridge.expr(col("text")), Seq("the", "a")))
      val perDoc = graft.CacheRegistry.persistTracked(
        Tables.documents(s, dir)
          .fanOutScan(col("doc_id"))
          .select(prof.as("p"))
          .select(col("p.n_tokens").as("n_tokens"),
            col("p.n_stop").as("n_stop")),
        graft.CacheRegistry.DataSized) // two ints per doc
      val tot = perDoc.agg(sum("n_tokens").cast("double").as("tt"))
      // First surviving grid index: strict 1000·n_stop < 25·j·n_tokens
      // ⇔ j > 40·n_stop/n_tokens ⇔ j_min = (1000·n_stop) DIV
      // (25·n_tokens) + 1 — exact integer arithmetic in both engines.
      val hist = perDoc.filter(col("n_tokens") >= 30)
        .groupBy(expr("CAST((1000 * CAST(n_stop AS BIGINT)) DIV " +
          "(25 * CAST(n_tokens AS BIGINT)) + 1 AS INT)").as("j_min"))
        .agg(count(lit(1)).as("nd"), sum("n_tokens").as("nt"))
      val surv = hist.filter(col("j_min") <= 12)
        .select(explode(sequence(col("j_min"), lit(12))).as("j"),
          col("nd"), col("nt"))
        .groupBy("j")
        .agg(sum("nd").as("nd"), sum("nt").as("nt"))
      s.range(0, 13).select(col("id").cast("int").as("j"))
        .join(surv, Seq("j"), "left")
        .crossJoin(broadcast(tot)) // 1-row lazy total
        .select((col("j") * 25).cast("long").as("t_permille"),
          coalesce(col("nd"), lit(0L)).as("n_docs"),
          coalesce(col("nt"), lit(0L)).as("n_tokens"),
          gf.roundz(coalesce(col("nt"), lit(0L)).cast("double") / col("tt"), 6)
            .as("token_share"))
        .orderBy("t_permille")
    },

    // T150 — cross-source n-gram NOVELTY census: per source, its
    // distinct 3-shingle types, the types found in NO other source,
    // and the novelty fraction — the "what does this feed add that
    // the rest of the corpus doesn't already have" number that prices
    // a source for the data-mixing decision (T29's caps and T126's
    // DSIR weights tune HOW MUCH of a source to take; this measures
    // whether its content is additive at all). Shape: one shingle
    // pass → distinct (source, type) pairs → per-type source-set
    // (sources-bounded: ≤ 20 entries) → explode back to a
    // (sources × 2)-bounded census; the corpus-sized frames are all
    // type-keyed aggregates with map-side combine, never joins.
    QueryDef("q170_source_novelty",
      """WITH p AS (
        |  SELECT DISTINCT source, tok FROM (
        |    SELECT source, unnest(list_transform(
        |      generate_series(1, len(t) - 2),
        |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS tok
        |    FROM (SELECT source,
        |            list_filter(string_split_regex(trim(text), '\s+'),
        |              x -> x <> '') AS t
        |          FROM documents)
        |  )
        |), spread AS (
        |  SELECT tok, count(*) AS n_src FROM p GROUP BY tok
        |)
        |SELECT p.source, CAST(count(*) AS BIGINT) AS n_types,
        |  CAST(count(*) FILTER (WHERE s.n_src = 1) AS BIGINT) AS n_unique,
        |  round(CAST(count(*) FILTER (WHERE s.n_src = 1) AS DOUBLE)
        |    / count(*), 6) + 0.0 AS novelty
        |FROM p JOIN spread s ON p.tok = s.tok
        |GROUP BY p.source ORDER BY p.source""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.graft.CatalystBridge
      val pairs = Tables.documents(s, dir)
        .fanOutScan(col("doc_id")) // scale-adaptive scan fan-out (r16)
        .select(col("source"),
          explode(CatalystBridge.column(graft.plans.ShingleTokens(
            CatalystBridge.expr(trim(col("text"))), 3))).as("tok"))
        .distinct()
      // Per-type source set (bounded by the source vocabulary), then
      // straight back out to the per-source census — no type-keyed
      // join, and only size(srcs) is consumed, so collect_set's merge
      // order can't surface.
      pairs.groupBy("tok")
        .agg(collect_set(col("source")).as("srcs"))
        .select(explode(col("srcs")).as("source"),
          (size(col("srcs")) === 1).as("uniq"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_types"),
          sum(when(col("uniq"), 1L).otherwise(0L)).as("n_unique"))
        .select(col("source"), col("n_types"), col("n_unique"),
          gf.roundz(col("n_unique").cast("double") / col("n_types"), 6)
            .as("novelty"))
        .orderBy("source")
    },

    // Document fingerprint: md5 over whitespace-normalized text.
    QueryDef("q36_fingerprint",
      """SELECT doc_id,
        |  md5(array_to_string(list_filter(
        |    string_split_regex(trim(text), '\s+'), x -> x <> ''), ' ')) AS fingerprint
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
      Tables.documents(s, dir)
        .fanOutScan(col("doc_id")) // scale-aware scan fan-out
        .select(col("doc_id"),
          md5(array_join(gf.tokens(col("text")), " ")).as("fingerprint"))
        .orderBy("doc_id")
    },

    // SimHash near-dup candidate pairing: LSH over the fingerprint's 4
    // disjoint 4-bit bands (pigeonhole: any pair within Hamming
    // distance 3 of 16 bits agrees exactly on >= 1 band), verified by
    // exact bit_count(xor) <= 2, reported as doc-pair counts per
    // distance. The banding runs over DISTINCT fingerprints with group
    // sizes carried alongside — doc pairs are recovered as m_a·m_b
    // (cross-fingerprint) and C(m,2) (identical fingerprints, Hamming
    // 0). That collapse is what keeps the operator safe on degenerate
    // corpora: a million exact-duplicate docs are ONE banded row, not a
    // 10^12-pair bucket — the same reason exact dedup precedes fuzzy
    // matching in a production pipeline. At 64 fingerprint bits the
    // same structure uses 4x 16-bit bands.
    QueryDef("q59_simhash_neardup",
      s"""WITH $simhashFpSql, fpg AS (
         |  SELECT simhash, count(*) AS m FROM fp GROUP BY simhash
         |), ubands AS (
         |  SELECT simhash, b AS band_idx, (simhash >> (b*4)) & 15 AS band_val
         |  FROM fpg, unnest([0,1,2,3]) AS u(b)
         |), cross_fp AS (
         |  SELECT DISTINCT a.simhash AS sa, b.simhash AS sb,
         |    CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
         |  FROM ubands a JOIN ubands b
         |    ON a.band_idx = b.band_idx AND a.band_val = b.band_val
         |    AND a.simhash < b.simhash
         |  WHERE bit_count(xor(a.simhash, b.simhash)) <= 2
         |), counts AS (
         |  SELECT 0 AS hamming, CAST(sum(m * (m - 1) // 2) AS BIGINT) AS n_pairs
         |  FROM fpg WHERE m > 1
         |  UNION ALL
         |  SELECT c.hamming, CAST(sum(ga.m * gb.m) AS BIGINT) AS n_pairs
         |  FROM cross_fp c
         |  JOIN fpg ga ON c.sa = ga.simhash
         |  JOIN fpg gb ON c.sb = gb.simhash
         |  GROUP BY c.hamming
         |)
         |SELECT hamming, n_pairs FROM counts WHERE n_pairs > 0
         |ORDER BY hamming""".stripMargin) { (s, dir) =>
      val fp = simhashed(Tables.documents(s, dir))
      // fingerprint groups: bounded by distinct-fingerprint count, so
      // broadcastable below; one shuffle over the doc-level frame.
      val fpg = fp.groupBy("simhash").agg(count(lit(1)).as("m"))
      val bandStructs = array((0 until 4).map { b =>
        struct(lit(b).as("band_idx"),
          shiftright(col("simhash"), b * 4).bitwiseAND(15).as("band_val"))
      }: _*)
      val ubands = fpg
        .select(col("simhash"), explode(bandStructs).as("bd"))
        .select(col("simhash"),
          col("bd.band_idx").as("band_idx"), col("bd.band_val").as("band_val"))
      // sort_array orders the bucket, so combinations satisfy sa < sb.
      val buckets = ubands
        .groupBy("band_idx", "band_val")
        .agg(sort_array(collect_list(col("simhash"))).as("sigs"))
        .filter(size(col("sigs")) > 1)
      val pairCol = flatten(transform(col("sigs"), (x, i) =>
        transform(
          slice(col("sigs"), i + lit(2), size(col("sigs")) - i - lit(1)),
          y => struct(x.as("sa"), y.as("sb"),
            bit_count(x.bitwiseXOR(y)).as("hamming")))))
      val crossFp = buckets
        .select(explode(pairCol).as("p"))
        .select(col("p.sa").as("sa"), col("p.sb").as("sb"),
          col("p.hamming").as("hamming"))
        .filter(col("hamming") <= 2)
        .distinct()
      // integer `div` per group (m*(m-1) is always even) — `/` would
      // route through a double and lose exactness past 2^53 pairs.
      val ham0 = fpg.filter(col("m") > 1)
        .agg(sum(expr("m * (m - 1) div 2")).as("n_pairs"))
        .select(lit(0).as("hamming"), col("n_pairs"))
        .filter(col("n_pairs") > 0)
      // Broadcast the PAIR side, not fpg: the distinct-fingerprint
      // table is O(unique docs) (unbounded at corpus scale), while
      // crossFp's volume is bounded by the banding contract — the
      // bounded frame is the one that rides the broadcast, and fpg
      // streams through both joins with no shuffle.
      val hamK = broadcast(crossFp)
        .join(fpg.select(col("simhash").as("sa"), col("m").as("ma")), "sa")
        .join(fpg.select(col("simhash").as("sb"), col("m").as("mb")), "sb")
        .groupBy("hamming").agg(sum(col("ma") * col("mb")).as("n_pairs"))
      ham0.unionByName(hamK).orderBy("hamming")
    },

    // Within-document repetition filter (the Gopher-style quality
    // signal): fraction of duplicate 2-/3-gram occurrences. Pure
    // per-row array arithmetic — no explode, no shuffle except the
    // final sort; the native ShingleTokens expression keeps the n-gram
    // construction codegen'd.
    QueryDef("q60_repetition_filter",
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS t
        |  FROM documents
        |)
        |SELECT doc_id,
        |  round(1.0 - CAST(len(list_distinct(list_transform(
        |      generate_series(1, len(t)-1), i -> t[i] || ' ' || t[i+1]))) AS DOUBLE)
        |    / (len(t)-1), 6) + 0.0 AS dup2_frac,
        |  round(1.0 - CAST(len(list_distinct(list_transform(
        |      generate_series(1, len(t)-2), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS DOUBLE)
        |    / (len(t)-2), 6) + 0.0 AS dup3_frac,
        |  (round(1.0 - CAST(len(list_distinct(list_transform(
        |      generate_series(1, len(t)-1), i -> t[i] || ' ' || t[i+1]))) AS DOUBLE)
        |    / (len(t)-1), 6) < 0.1) AS keep
        |FROM t WHERE len(t) >= 3 ORDER BY doc_id""".stripMargin) { (s, dir) =>
      // ONE tokenization pass via the fused native NgramDupStats
      // (struct(n_toks, d2, d3)) — the composed ShingleTokens×3 +
      // array_distinct×2 form tokenized every doc three times and
      // materialized five per-row arrays (PERF.md log #15).
      val stats = org.apache.spark.sql.graft.CatalystBridge.column(
        graft.plans.NgramDupStats(
          org.apache.spark.sql.graft.CatalystBridge.expr(trim(col("text")))))
      def dupFrac(d: Column, denom: Column): Column =
        gf.roundz(lit(1.0) - d.cast("double") / denom, 6)
      // explode(array(...)) Generate barrier (r16): without it the
      // n_toks >= 3 predicate is pushed below this projection and
      // re-runs the full NgramDupStats byte kernel per row (§4.4).
      Tables.documents(s, dir)
        .fanOutScan(col("doc_id")) // scale-adaptive scan fan-out (r16)
        .select(col("doc_id"), explode(array(stats)).as("st"))
        .filter(col("st.n_toks") >= 3)
        .select(col("doc_id"),
          dupFrac(col("st.d2"), col("st.n_toks") - 1).as("dup2_frac"),
          dupFrac(col("st.d3"), col("st.n_toks") - 2).as("dup3_frac"),
          (dupFrac(col("st.d2"), col("st.n_toks") - 1) < 0.1).as("keep"))
        .orderBy("doc_id")
    },

    // Out-of-vocabulary rate against the corpus' own head vocabulary
    // (top-10 terms by document frequency): the gibberish/noise gate a
    // training-data pipeline runs before tokenizer training. Two
    // shuffles (df aggregation, per-doc aggregation); the vocabulary is
    // bounded so the membership join is a broadcast.
    QueryDef("q61_oov_rate",
      """WITH toks AS (
        |  SELECT doc_id,
        |    unnest(list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '')) AS term
        |  FROM documents
        |), df AS (
        |  SELECT term, count(DISTINCT doc_id) AS df FROM toks GROUP BY 1
        |), vocab AS (
        |  SELECT term FROM df ORDER BY df DESC, term LIMIT 10
        |)
        |SELECT t.doc_id,
        |  round(1.0 - CAST(count(v.term) AS DOUBLE) / count(*), 6) + 0.0 AS oov_rate
        |FROM toks t LEFT JOIN vocab v USING (term)
        |GROUP BY t.doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
      // Rides the shared tf backbone (r15): the old shape exploded the
      // corpus TWICE (df aggregation + the membership join each
      // re-tokenized). Per-token counts expand arithmetically —
      // df(term) = tf row count, token totals = Σ tf — exact integers,
      // so the final division's operands are identical bit-for-bit.
      val tf = tfFor(s, dir)
      val dfT = tf.groupBy("term").agg(count(lit(1)).as("df"))
      // top-10: TakeOrderedAndProject — never a global sort
      val vocab = dfT.orderBy(desc("df"), asc("term")).limit(10)
        .select(col("term"), lit(1).as("in_vocab"))
      tf.join(broadcast(vocab), Seq("term"), "left")
        .groupBy("doc_id")
        .agg(gf.roundz(lit(1.0) -
          sum(when(col("in_vocab").isNotNull, col("tf")).otherwise(0L))
            .cast("double") / sum(col("tf")), 6).as("oov_rate"))
        .orderBy("doc_id")
    },

    // Benchmark decontamination: flag corpus docs sharing any 5-token
    // shingle with the held-out eval set (source 'src0' plays the
    // benchmark) — the overlap check every training pipeline runs
    // before releasing data. One shingle pass over the table; the
    // benchmark shingle set is broadcast (eval sets are bounded — 1e4
    // to 1e6 n-grams — by definition); the corpus side is an equi-join
    // on the shingle, never all-pairs. Per-doc shingles are deduped by
    // ShingleTokens, so count(*) of join hits IS the distinct shared
    // count.
    QueryDef("q62_decontaminate",
      """WITH sh AS (
        |  SELECT DISTINCT doc_id, source, tok FROM (
        |    SELECT doc_id, source, unnest(list_transform(
        |      generate_series(1, len(t) - 4),
        |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4])) AS tok
        |    FROM (SELECT doc_id, source,
        |            list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS t
        |          FROM documents)
        |  )
        |), bench AS (SELECT DISTINCT tok FROM sh WHERE source = 'src0')
        |SELECT s.doc_id, count(*) AS n_shared
        |FROM sh s JOIN bench b ON s.tok = b.tok
        |WHERE s.source <> 'src0'
        |GROUP BY s.doc_id ORDER BY s.doc_id""".stripMargin) { (s, dir) =>
      def sh5(c: Column): Column =
        org.apache.spark.sql.graft.CatalystBridge.column(
          graft.plans.ShingleTokens(
            org.apache.spark.sql.graft.CatalystBridge.expr(trim(c)), 5))
      // r16: scale-adaptive fan-out (fanOutScan) instead of an
      // unconditional repartition — the full corpus TEXT was shuffled
      // by doc_id before the shingle explode just to parallelize a
      // single-file local scan; at cluster scale splits are plentiful
      // and the shuffle is pure waste. The per-doc count aggregate
      // does map-side partials, so the post-join exchange carries
      // (doc_id, partial) rows, never text.
      val sh = Tables.documents(s, dir)
        .fanOutScan(col("doc_id"))
        .select(col("doc_id"), col("source"),
          explode(sh5(col("text"))).as("tok"))
      val bench = sh.filter(col("source") === "src0").select("tok").distinct()
      sh.filter(col("source") =!= "src0")
        .join(broadcast(bench), "tok")
        .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
        .orderBy("doc_id")
    },

    // Corpus length profiling: exact token-count percentiles per lang
    // — how a pipeline picks its length-filter thresholds. EXACT
    // percentile (not approx_percentile) stays oracle-comparable AND
    // scale-safe here: Spark's percentile aggregate buffers a
    // value→count map per group, so memory is O(distinct lengths)
    // (thousands), not O(rows); both engines interpolate with the same
    // R-7 definition.
    QueryDef("q63_length_profile",
      """SELECT lang,
        |  round(quantile_cont(n, 0.5), 4) + 0.0 AS p50,
        |  round(quantile_cont(n, 0.9), 4) + 0.0 AS p90,
        |  round(quantile_cont(n, 0.99), 4) + 0.0 AS p99,
        |  count(*) AS n_docs
        |FROM (SELECT lang,
        |        CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
        |                 x -> x <> '')) AS DOUBLE) AS n
        |      FROM documents)
        |GROUP BY lang ORDER BY lang""".stripMargin) { (s, dir) =>
      Tables.documents(s, dir)
        .fanOutScan(col("doc_id")) // scale-adaptive scan fan-out (r16)
        .select(col("lang"), size(gf.tokens(col("text"))).cast("double").as("n"))
        .groupBy("lang")
        .agg(
          gf.roundz(expr("percentile(n, 0.5D)"), 4).as("p50"),
          gf.roundz(expr("percentile(n, 0.9D)"), 4).as("p90"),
          gf.roundz(expr("percentile(n, 0.99D)"), 4).as("p99"),
          count(lit(1)).as("n_docs"))
        .orderBy("lang")
    },

    // Approximate twin of q63 — see lengthProfileApprox below. Not a
    // registered query: approx_percentile's t-digest result has no
    // cross-engine oracle; its error bound vs the exact profile is
    // spec-asserted instead (LengthProfileSpec).

    // Near-dup CLUSTERS over the LSH candidate pairs: connected
    // components via alternating large-star/small-star (one survivor
    // per cluster is then a filter on id == component_id). The oracle
    // computes the same fixpoint as a recursive min-reachability CTE —
    // fine at sf0.01 (closure is tiny), while the Spark side stays
    // O(E log V) and never materializes reachability.
    QueryDef("q64_neardup_clusters",
      s"""${lshPairsSql.replaceFirst("WITH ", "WITH RECURSIVE ")}, edges AS (
         |  SELECT doc_a AS u, doc_b AS v FROM pairs
         |  UNION ALL
         |  SELECT doc_b AS u, doc_a AS v FROM pairs
         |), reach AS (
         |  SELECT u AS id, u AS r FROM edges
         |  UNION
         |  SELECT x.id, e.v AS r FROM reach x JOIN edges e ON e.u = x.r
         |)
         |SELECT id AS doc_id, min(r) AS component_id
         |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin) { (s, dir) =>
      textDupComponents(s, dir).orderBy("doc_id")
    },

    // Near-dup cluster REPRESENTATIVE selection — the dedup mapping
    // table a pipeline actually materializes: every doc mapped to its
    // cluster's keeper under the keep-longest policy (argmax token
    // count, min doc_id tiebreak; singletons keep themselves). The
    // per-component argmax is the row_number top-k idiom, so
    // TopKRewriteRule plans it as the sort-free bounded-heap
    // TopKPerKey; component assignment reuses q64's large-star/
    // small-star CC. Nothing here is all-pairs: components come from
    // the LSH-bounded pair stream, the rep join is a skinny
    // component-keyed shuffle join (NOT broadcast — components are
    // corpus-sized).
    QueryDef("q102_cluster_reps",
      s"""${lshPairsSql.replaceFirst("WITH ", "WITH RECURSIVE ")}, edges AS (
         |  SELECT doc_a AS u, doc_b AS v FROM pairs
         |  UNION ALL
         |  SELECT doc_b AS u, doc_a AS v FROM pairs
         |), reach AS (
         |  SELECT u AS id, u AS r FROM edges
         |  UNION
         |  SELECT x.id, e.v AS r FROM reach x JOIN edges e ON e.u = x.r
         |), comp AS (
         |  SELECT id AS doc_id, min(r) AS component_id
         |  FROM reach GROUP BY id
         |), docsu AS (
         |  SELECT d.doc_id, coalesce(c.component_id, d.doc_id) AS component_id,
         |    CAST(len(list_filter(string_split_regex(trim(d.text), '\\s+'),
         |             x -> x <> '')) AS BIGINT) AS n_tokens
         |  FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id
         |), rep AS (
         |  SELECT component_id, doc_id AS rep_id FROM (
         |    SELECT component_id, doc_id, row_number() OVER (
         |      PARTITION BY component_id
         |      ORDER BY n_tokens DESC, doc_id) AS rk
         |    FROM docsu) WHERE rk = 1
         |)
         |SELECT f.doc_id, f.component_id, r.rep_id,
         |  CAST(f.doc_id = r.rep_id AS BIGINT) AS is_rep
         |FROM docsu f JOIN rep r ON r.component_id = f.component_id
         |ORDER BY f.doc_id""".stripMargin) { (s, dir) =>
      val comps = textDupComponents(s, dir)
      // Both the rep branch and the final join read this frame — one
      // materialization (one docs tokenization + one comps join), not
      // two; CC itself is already pinned by its per-round checkpoints.
      val full = graft.CacheRegistry.persistTracked(
        Tables.documents(s, dir)
          .select(col("doc_id"),
            size(gf.tokens(col("text"))).cast("long").as("n_tokens"))
          .join(comps, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("component_id"), col("doc_id")).as("component_id"),
            col("n_tokens")),
        graft.CacheRegistry.DataSized) // one skinny row per doc
      // Per-component argmax as ONE hash aggregate (the
      // assignToCentroids pattern): max(struct(n_tokens, −doc_id))
      // partial-aggregates map-side so the shuffle carries ~one row
      // per (task, component) instead of sorting every doc row; tie
      // semantics identical to the old (n_tokens desc, doc_id asc)
      // rank — the negated id makes MAX prefer the smallest doc id.
      val rep = full
        .groupBy("component_id")
        .agg(max(struct(col("n_tokens"), (-col("doc_id")).as("negd")))
          .as("b"))
        .select(col("component_id"), (-col("b.negd")).as("rep_id"))
      full.join(rep, Seq("component_id"))
        .select(col("doc_id"), col("component_id"), col("rep_id"),
          (col("doc_id") === col("rep_id")).cast("long").as("is_rep"))
        .orderBy("doc_id")
    },

    // BPE trainer kernel, cross-engine witnessed: the weighted
    // adjacent-character pair census over the word-frequency table —
    // exactly what operators/BpeTrainer counts each merge round (the
    // full K-round loop is iterative and spec-gated in BpeTrainerSpec;
    // this oracle pins the round-0 aggregate both engines must agree
    // on). Scale shape: one corpus pass to (word, cnt), then pair
    // explosion bounded by VOCABULARY (distinct words × word length),
    // not corpus size.
    QueryDef("q103_bpe_pair_census",
      """WITH wf AS (
        |  SELECT word, count(*) AS cnt FROM (
        |    SELECT unnest(list_filter(
        |      string_split_regex(trim(text), '\s+'), x -> x <> '')) AS word
        |    FROM documents) GROUP BY word
        |), prs AS (
        |  SELECT substr(word, i, 1) AS l, substr(word, i + 1, 1) AS r, cnt
        |  FROM (SELECT word, cnt,
        |          unnest(generate_series(1, len(word) - 1)) AS i
        |        FROM wf WHERE len(word) >= 2)
        |)
        |SELECT l, r, CAST(sum(cnt) AS BIGINT) AS pair_cnt
        |FROM prs GROUP BY l, r
        |ORDER BY pair_cnt DESC, l, r LIMIT 20""".stripMargin) { (s, dir) =>
      val wf = graft.operators.BpeTrainer
        .wordFrequencies(Tables.documents(s, dir))
      wf.filter(length(col("word")) >= 2)
        .select(explode(transform(
          sequence(lit(1), length(col("word")) - 1),
          i => struct(
            col("word").substr(i, lit(1)).as("l"),
            col("word").substr(i + 1, lit(1)).as("r"))))
          .as("p"), col("cnt"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum("cnt").as("pair_cnt"))
        .orderBy(desc("pair_cnt"), asc("l"), asc("r"))
        .limit(20)
    },

    // Text normalization census (plans/NormalizeText): NFC composition
    // + control-char strip + whitespace collapse + trim — the standard
    // cleaning pass, as ONE codegen'd per-row expression (no shuffle;
    // the scan IS the cost at 100 TB). The corpus is clean ASCII, so
    // the query appends doc_id-independent dirt in BOTH engines
    // (double space, tab, BEL, e + combining acute — the NFC case) and
    // witnesses the cleaned text by md5 (the q75 injection pattern).
    QueryDef("q104_normalize_text",
      """WITH src AS (
        |  SELECT doc_id,
        |    concat(text, '  x', chr(9), chr(7), 'e', chr(769), ' ') AS t
        |  FROM documents
        |), cl AS (
        |  SELECT doc_id, t,
        |    trim(regexp_replace(regexp_replace(nfc_normalize(t),
        |      '[\x00-\x1f\x7f]', ' ', 'g'), '\s+', ' ', 'g')) AS clean
        |  FROM src
        |)
        |SELECT doc_id, md5(clean) AS h,
        |  CAST(clean <> t AS BIGINT) AS changed
        |FROM cl ORDER BY doc_id""".stripMargin) { (s, dir) =>
      // Exactly DuckDB's concat: double space, 'x', TAB, BEL (raw
      // 0x07 in this source literal), 'e', COMBINING ACUTE (U+0301 -
      // composes to a single code point under NFC), trailing space.
      val t = concat(col("text"), lit("  x\té "))
      val clean = org.apache.spark.sql.graft.CatalystBridge.column(
        graft.plans.NormalizeText(
          org.apache.spark.sql.graft.CatalystBridge.expr(t)))
      Tables.documents(s, dir)
        .select(col("doc_id"), t.as("t"), clean.as("clean"))
        .select(col("doc_id"), md5(col("clean")).as("h"),
          (col("clean") =!= col("t")).cast("long").as("changed"))
        .orderBy("doc_id")
    },

    // Greedy sequence packing (docs → ≤512-token training sequences,
    // id order, pack boundaries never span a (source, shard) cell).
    // The fold is sequential per cell — the oracle expresses the same
    // recurrence as a recursive CTE stepping one row per group per
    // iteration.
    QueryDef("q65_sequence_pack",
      """WITH RECURSIVE toks AS (
        |  SELECT doc_id, source, doc_id // 1000 AS shard,
        |    CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
        |             x -> x <> '')) AS BIGINT) AS n_tokens
        |  FROM documents
        |), t AS (
        |  SELECT doc_id, source, shard, n_tokens,
        |    row_number() OVER (PARTITION BY source, shard ORDER BY doc_id) AS rn
        |  FROM toks
        |), pack AS (
        |  SELECT doc_id, source, shard, n_tokens, rn,
        |    CAST(0 AS BIGINT) AS pack_id, n_tokens AS acc
        |  FROM t WHERE rn = 1
        |  UNION ALL
        |  SELECT t.doc_id, t.source, t.shard, t.n_tokens, t.rn,
        |    CASE WHEN p.acc + t.n_tokens > 512 THEN p.pack_id + 1
        |         ELSE p.pack_id END,
        |    CASE WHEN p.acc + t.n_tokens > 512 THEN t.n_tokens
        |         ELSE p.acc + t.n_tokens END
        |  FROM pack p
        |  JOIN t ON t.source = p.source AND t.shard = p.shard
        |        AND t.rn = p.rn + 1
        |)
        |SELECT doc_id, source, shard, pack_id,
        |  row_number() OVER (PARTITION BY source, shard, pack_id
        |                     ORDER BY doc_id) AS pack_pos,
        |  n_tokens
        |FROM pack ORDER BY doc_id""".stripMargin) { (s, dir) =>
      implicit val sp = s
      val docs = Tables.documents(s, dir).select(
        col("doc_id"), col("source"),
        size(gf.tokens(col("text"))).cast("long").as("n_tokens"))
      graft.operators.Packing
        .packSequences(docs, maxTokens = 512, shardSize = 1000)
        .orderBy("doc_id")
    },

    // Semantic dedup (SemDeDup-shaped): cluster the embedding near-dup
    // pairs (q47's candidate generation) via connected components and
    // keep min-id representatives — the embedding-space analog of
    // q64's minhash clustering, same O(E log V) large-star/small-star
    // fixpoint, different similarity source.
    QueryDef("q66_semantic_dedup",
      s"""${embPairsSql.replaceFirst("WITH ", "WITH RECURSIVE ")}, edges AS (
         |  SELECT vec_a AS u, vec_b AS v FROM epairs
         |  UNION ALL
         |  SELECT vec_b AS u, vec_a AS v FROM epairs
         |), reach AS (
         |  SELECT u AS id, u AS r FROM edges
         |  UNION
         |  SELECT x.id, e.v AS r FROM reach x JOIN edges e ON e.u = x.r
         |)
         |SELECT id AS vec_id, min(r) AS component_id
         |FROM reach GROUP BY id ORDER BY vec_id""".stripMargin) { (s, dir) =>
      // CC over GROUP edges, not expanded member pairs (the
      // embDupCollapsed contract carried through the fixpoint): a dup
      // group is a clique, so the member-level component structure is
      // fully determined by the group graph — every member inherits
      // its group's component, and the member-level component minimum
      // equals the minimum gid (gid = min member id per group, so
      // min over the component's members = min over its gids). Dup
      // groups without a cross pair are their own member-clique
      // (component = gid). The O(E log V) fixpoint thus runs over
      // distinct-content edges (d² fewer at duplication factor d);
      // the member expansion afterwards is one gid equi-join.
      val (groups, _, selfdups) = embDupCollapsed(s, dir)
      val comp = embCompsFor(s, dir)
      val members = groups.select(col("gid"),
        explode(col("__ids")).as("vid"))
      val viaCross = members.join(comp, "gid")
        .select(col("vid").as("vec_id"), col("component_id"))
      val viaSelf = members
        .join(selfdups.select("gid")
          .join(comp.select("gid"), Seq("gid"), "left_anti"), "gid")
        .select(col("vid").as("vec_id"), col("gid").as("component_id"))
      viaCross.union(viaSelf).orderBy("vec_id")
    },

    // Weighted corpus mixing: deterministic hash-sampling at per-source
    // rates (compose a training mix: keep all of src0, half of src1,
    // a quarter of src2, 10% of the rest). One filter, no RNG, no
    // shuffle before the final rollup; a row's fate is a pure function
    // of its id, so the mix is reproducible on any engine and layout.
    QueryDef("q67_corpus_mix",
      """SELECT source, count(*) AS n_docs, CAST(sum(n) AS BIGINT) AS n_tokens
        |FROM (
        |  SELECT source,
        |    CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
        |             x -> x <> '')) AS BIGINT) AS n,
        |    CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
        |         AS BIGINT) % 10000 AS b,
        |    CASE source WHEN 'src0' THEN 10000 WHEN 'src1' THEN 5000
        |                WHEN 'src2' THEN 2500 ELSE 1000 END AS cap
        |  FROM documents
        |) WHERE b < cap
        |GROUP BY source ORDER BY source""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir).select(
        col("doc_id"), col("source"),
        size(gf.tokens(col("text"))).cast("long").as("n_tokens"))
      graft.operators.Sampling
        .weightedMix(docs, groupCol = "source", idCol = "doc_id",
          rates = Map("src0" -> 1.0, "src1" -> 0.5, "src2" -> 0.25),
          defaultRate = 0.1)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("n_tokens"))
        .orderBy("source")
    },

    // T139 — sampling-temperature mixing design (the GPT-3/Pile
    // w_s ∝ n_s^α rule — public knowledge): per source, the effective
    // sampling share and epoch multiplier at temperatures
    // α ∈ {1, 0.5, 0.25}. α < 1 upweights small sources (the standard
    // anti-domination lever); the census is the design table a
    // mixing run is configured FROM, next to q67 which executes a
    // chosen mix. Determinism: α = 0.5/0.25 are sqrt/sqrt∘sqrt
    // (IEEE-exact, correctly rounded in both engines — never libm
    // pow with a fractional exponent), and the cross-source
    // normalizers sum floor(·2^20)-quantized longs (the q130 idiom)
    // so no raw-double sum crosses a merge. Scale shape: one
    // (source)-keyed aggregate, a 1-row lazy-totals broadcast cross
    // (the q46 pattern), everything downstream row-local on ≤
    // #sources rows.
    QueryDef("q160_mixing_design",
      """WITH s AS (
        |  SELECT source,
        |    CAST(sum(len(list_filter(string_split_regex(trim(text), '\s+'),
        |             x -> x <> ''))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY source
        |), q AS (
        |  SELECT source, n_tokens,
        |    CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)) * 1048576.0) AS BIGINT) AS q5,
        |    CAST(floor(sqrt(sqrt(CAST(n_tokens AS DOUBLE))) * 1048576.0) AS BIGINT) AS q25
        |  FROM s
        |), t AS (
        |  SELECT CAST(sum(n_tokens) AS BIGINT) AS tot,
        |    CAST(sum(q5) AS BIGINT) AS tot5, CAST(sum(q25) AS BIGINT) AS tot25
        |  FROM q
        |)
        |SELECT q.source, q.n_tokens,
        |  round(CAST(q.n_tokens AS DOUBLE) / t.tot, 6) + 0.0 AS share_a100,
        |  round(CAST(q.q5 AS DOUBLE) / t.tot5, 6) + 0.0 AS share_a050,
        |  round(CAST(q.q25 AS DOUBLE) / t.tot25, 6) + 0.0 AS share_a025,
        |  round(CAST(q.q5 AS DOUBLE) / t.tot5 * t.tot / q.n_tokens, 6) + 0.0
        |    AS epochs_a050
        |FROM q, t ORDER BY q.source""".stripMargin) { (s, dir) =>
      val toks = Tables.documents(s, dir)
        .groupBy("source")
        .agg(sum(size(gf.tokens(col("text"))).cast("long")).as("n_tokens"))
        .withColumn("q5",
          floor(sqrt(col("n_tokens").cast("double")) * 1048576.0)
            .cast("long"))
        .withColumn("q25",
          floor(sqrt(sqrt(col("n_tokens").cast("double"))) * 1048576.0)
            .cast("long"))
      val tot = toks.agg(sum("n_tokens").as("tot"), sum("q5").as("tot5"),
        sum("q25").as("tot25"))
      toks.crossJoin(broadcast(tot))
        .select(col("source"), col("n_tokens"),
          gf.roundz(col("n_tokens").cast("double") / col("tot"), 6)
            .as("share_a100"),
          gf.roundz(col("q5").cast("double") / col("tot5"), 6).as("share_a050"),
          gf.roundz(col("q25").cast("double") / col("tot25"), 6).as("share_a025"),
          gf.roundz(col("q5").cast("double") / col("tot5") * col("tot")
            / col("n_tokens"), 6).as("epochs_a050"))
        .orderBy("source")
    },

    // T142 — Spearman rank-correlation census (Spearman 1904 — public
    // knowledge): per source, ρ between each doc's token count and its
    // distinct-token count — DO two quality signals rank documents the
    // same way, the question asked before combining filters (two
    // highly rank-correlated signals gate the same docs; paying for
    // both buys nothing). Rank statistics are the robust choice at
    // corpus scale (Pearson on raw lengths is dominated by the heavy
    // tail). Determinism by construction: BOTH inputs are integers,
    // ranks are row_number with a doc_id tie-break (identical windows
    // both engines), Σd² accumulates exact longs, and the only double
    // math is the one final ρ expression shared verbatim. Scale shape:
    // one scan, one (source)-keyed shuffle feeding both rank windows,
    // then a (sources)-bounded aggregate; per-source sorts spill (the
    // same contract as every rank statistic — W1's PartitionedOffset
    // machinery is the escape hatch if a single source outgrows a
    // task's spill budget).
    QueryDef("q163_spearman",
      """WITH d AS (
        |  SELECT doc_id, source,
        |    len(list_filter(string_split_regex(trim(text), '\s+'),
        |        x -> x <> '')) AS n_tok,
        |    len(list_distinct(list_filter(string_split_regex(trim(text), '\s+'),
        |        x -> x <> ''))) AS n_distinct
        |  FROM documents
        |), r AS (
        |  SELECT source,
        |    row_number() OVER (PARTITION BY source ORDER BY n_tok, doc_id) AS r_len,
        |    row_number() OVER (PARTITION BY source ORDER BY n_distinct, doc_id) AS r_dis
        |  FROM d
        |), agg AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum((r_len - r_dis) * (r_len - r_dis)) AS BIGINT) AS sum_d2
        |  FROM r GROUP BY source
        |)
        |SELECT source, n_docs, sum_d2,
        |  round(1.0 - 6.0 * sum_d2 / (CAST(n_docs AS DOUBLE)
        |    * (CAST(n_docs AS DOUBLE) * n_docs - 1.0)), 6) + 0.0 AS rho
        |FROM agg ORDER BY source""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.{Window => W}
      // fused TokenProfile byte scan (r16): ONE pass, no token array
      // and no second array_distinct copy — the rank inputs are the
      // profile's first two counts (oracle-pinned equal to the
      // composed size/array_distinct form, the q128/q139 lesson).
      val prof = org.apache.spark.sql.graft.CatalystBridge.column(
        graft.plans.TokenProfile(
          org.apache.spark.sql.graft.CatalystBridge.expr(col("text")), Nil))
      val d = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"), prof.as("p"))
        .select(col("doc_id"), col("source"),
          col("p.n_tokens").as("n_tok"), col("p.n_distinct").as("n_distinct"))
      val wLen = W.partitionBy("source").orderBy(col("n_tok"), col("doc_id"))
      val wDis = W.partitionBy("source")
        .orderBy(col("n_distinct"), col("doc_id"))
      d.select(col("source"),
          row_number().over(wLen).as("r_len"),
          row_number().over(wDis).as("r_dis"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum((col("r_len") - col("r_dis")).cast("long")
            * (col("r_len") - col("r_dis")).cast("long")).as("sum_d2"))
        .select(col("source"), col("n_docs"), col("sum_d2"),
          gf.roundz(lit(1.0) - lit(6.0) * col("sum_d2")
            / (col("n_docs").cast("double")
               * (col("n_docs").cast("double") * col("n_docs") - 1.0)), 6)
            .as("rho"))
        .orderBy("source")
    },

    // Unigram log-probability scoring: mean log corpus frequency of a
    // doc's tokens — the cheap LM-perplexity proxy pipelines use to
    // rank quality before a real model sees anything. Corpus
    // frequencies are one explode+groupBy; the corpus total is a lazy
    // 1-row broadcast aggregate (the q46 pattern, no driver count());
    // per-doc scoring is an equi-join on token then a groupBy on
    // doc_id — two shuffles, both key-partitioned, nothing all-pairs.
    QueryDef("q68_unigram_logprob",
      """WITH toks AS (
        |  SELECT doc_id, unnest(list_filter(
        |    string_split_regex(trim(text), '\s+'), x -> x <> '')) AS tok
        |  FROM documents
        |), freqs AS (
        |  SELECT tok, count(*) AS freq FROM toks GROUP BY tok
        |), total AS (
        |  SELECT CAST(sum(freq) AS DOUBLE) AS n FROM freqs
        |)
        |SELECT t.doc_id, count(*) AS n_toks,
        |  round(avg(ln(f.freq / total.n)), 6) + 0.0 AS avg_logprob
        |FROM toks t JOIN freqs f ON t.tok = f.tok CROSS JOIN total
        |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin) { (s, dir) =>
      val toks = Tables.documents(s, dir)
        .fanOutScan(col("doc_id")) // scale-adaptive scan fan-out (r16)
        .select(col("doc_id"), explode(gf.tokens(col("text"))).as("tok"))
      val freqs = toks.groupBy("tok").agg(count(lit(1)).as("freq"))
      val total = freqs.agg(sum("freq").cast("double").as("n"))
      toks.join(freqs, "tok")
        .crossJoin(broadcast(total))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_toks"),
          gf.roundz(avg(log(col("freq") / col("n"))), 6).as("avg_logprob"))
        .orderBy("doc_id")
    },

    // Token-window chunking with overlap (window 64, stride 48): the
    // RAG / long-context prep step that splits docs into fixed token
    // windows. Pure per-row array arithmetic — transform over a
    // bounded index sequence + slice — no shuffle at all before the
    // final sort; chunk content is witnessed by an md5 over the joined
    // window so the oracle checks bytes, not just offsets.
    QueryDef("q69_token_chunks",
      """WITH docs AS (
        |  SELECT doc_id, list_filter(
        |    string_split_regex(trim(text), '\s+'), x -> x <> '') AS toks
        |  FROM documents
        |), nz AS (
        |  SELECT doc_id, toks, len(toks) AS n FROM docs WHERE len(toks) > 0
        |), idx AS (
        |  SELECT doc_id, toks,
        |    unnest(range(0, CAST(CASE WHEN n <= 64 THEN 1
        |      ELSE ceil((n - 64) / 48.0) + 1 END AS BIGINT))) AS i
        |  FROM nz
        |)
        |SELECT doc_id, i AS chunk_idx,
        |  CAST(i * 48 + 1 AS BIGINT) AS chunk_start,
        |  CAST(len(list_slice(toks, CAST(i * 48 + 1 AS BIGINT),
        |    CAST(i * 48 + 64 AS BIGINT))) AS BIGINT) AS chunk_len,
        |  md5(array_to_string(list_slice(toks, CAST(i * 48 + 1 AS BIGINT),
        |    CAST(i * 48 + 64 AS BIGINT)), ' ')) AS chunk_md5
        |FROM idx ORDER BY doc_id, chunk_idx""".stripMargin) { (s, dir) =>
      val (w, st) = (64, 48)
      Tables.documents(s, dir)
        .fanOutScan(col("doc_id")) // scale-adaptive scan fan-out (r16)
        // rlike('\\S') is exactly tokens-nonempty; size(toks) > 0 would
        // push a full second tokenize below the projection (guide s4.4)
        .filter(col("text").rlike("\\S"))
        .select(col("doc_id"), gf.tokens(col("text")).as("toks"))
        .withColumn("n_chunks",
          when(size(col("toks")) <= w, lit(1L))
            .otherwise(ceil((size(col("toks")) - w) / lit(st.toDouble))
              .cast("long") + 1))
        .select(col("doc_id"), col("toks"),
          explode(sequence(lit(0L), col("n_chunks") - 1)).as("i"))
        .withColumn("chunk",
          slice(col("toks"), (col("i") * st + 1).cast("int"), lit(w)))
        .select(col("doc_id"), col("i").as("chunk_idx"),
          (col("i") * st + 1).as("chunk_start"),
          size(col("chunk")).cast("long").as("chunk_len"),
          md5(array_join(col("chunk"), " ")).as("chunk_md5"))
        .orderBy("doc_id", "chunk_idx")
    },

    // Cardinality profiling: exact distinct-token and doc counts per
    // source — vocabulary growth is how pipelines detect corpus drift
    // and near-duplicate ingestion batches. Exact distinct is the
    // oracle-checked path (two-phase aggregate: Spark plans the
    // partial-distinct expansion before the final count); the one-pass
    // fixed-state HLL twin for 100 TB lives next to it
    // (cardinalityProfileApprox, error spec'd in CardinalitySpec —
    // sketches have no cross-engine oracle).
    QueryDef("q70_vocab_profile",
      """SELECT source,
        |  CAST(count(DISTINCT tok) AS BIGINT) AS n_distinct_toks,
        |  count(*) AS n_tokens,
        |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
        |FROM (
        |  SELECT doc_id, source, unnest(list_filter(
        |    string_split_regex(trim(text), '\s+'), x -> x <> '')) AS tok
        |  FROM documents
        |) GROUP BY source ORDER BY source""".stripMargin) { (s, dir) =>
      tokensBySource(s, dir)
        .groupBy("source")
        .agg(countDistinct(col("tok")).as("n_distinct_toks"),
          count(lit(1)).as("n_tokens"),
          countDistinct(col("doc_id")).as("n_docs"))
        .orderBy("source")
    },

    // Source divergence: KL(source unigram dist || global unigram
    // dist) — the corpus-drift / mixture-shift detector pipelines run
    // per ingestion batch. Every distribution is derived from ONE
    // (source, tok) count aggregate: per-source totals are a tiny
    // broadcast frame, the global total is the q46-pattern lazy 1-row
    // broadcast, and per-token global counts equi-join back on tok —
    // key-partitioned shuffles only, and Spark's ReuseExchange
    // collapses the four reads of the shared aggregate into one
    // shuffle. KL needs no smoothing here: a source's tokens are by
    // construction a subset of the global support.
    QueryDef("q71_source_divergence",
      """WITH toks AS (
        |  SELECT source, unnest(list_filter(
        |    string_split_regex(trim(text), '\s+'), x -> x <> '')) AS tok
        |  FROM documents
        |), st AS (
        |  SELECT source, tok, count(*) AS cnt FROM toks GROUP BY source, tok
        |), src AS (
        |  SELECT source, CAST(sum(cnt) AS DOUBLE) AS src_n FROM st GROUP BY source
        |), gt AS (
        |  SELECT tok, CAST(sum(cnt) AS DOUBLE) AS tok_n FROM st GROUP BY tok
        |), tot AS (
        |  SELECT CAST(sum(cnt) AS DOUBLE) AS n FROM st
        |)
        |SELECT st.source, CAST(src.src_n AS BIGINT) AS n_tokens,
        |  round(sum((st.cnt / src.src_n)
        |    * ln((st.cnt / src.src_n) / (gt.tok_n / tot.n))), 6) + 0.0 AS kl_vs_global
        |FROM st JOIN src USING (source) JOIN gt USING (tok) CROSS JOIN tot
        |GROUP BY st.source, src.src_n ORDER BY st.source""".stripMargin) { (s, dir) =>
      // NOT moved to the tf backbone (r15, measured): this query reads
      // the shared st aggregate four times and ReuseExchange collapses
      // them into ONE shuffle off the fused scan+explode pipeline —
      // the table-backed form measured 0.46 → 0.87 s at sf0.1.
      val st = Tables.documents(s, dir)
        .fanOutScan(col("doc_id")) // scale-aware scan fan-out
        .select(col("source"), explode(gf.tokens(col("text"))).as("tok"))
        .groupBy("source", "tok").agg(count(lit(1)).as("cnt"))
      val src = st.groupBy("source").agg(sum("cnt").cast("double").as("src_n"))
      val gt = st.groupBy("tok").agg(sum("cnt").cast("double").as("tok_n"))
      val tot = st.agg(sum("cnt").cast("double").as("n"))
      val p = col("cnt") / col("src_n")
      st.join(broadcast(src), "source")
        .join(gt, "tok")
        .crossJoin(broadcast(tot))
        .groupBy(col("source"), col("src_n"))
        .agg(gf.roundz(sum(p * log(p / (col("tok_n") / col("n")))), 6)
          .as("kl_vs_global"))
        .select(col("source"), col("src_n").cast("long").as("n_tokens"),
          col("kl_vs_global"))
        .orderBy("source")
    },

    // Boilerplate detection: per-doc fraction of 3-gram instances that
    // fall in the corpus-wide top-50 most frequent 3-grams — the
    // C4-style "most common lines" removal gate, re-expressed at
    // shingle granularity (this corpus has no line structure). The
    // boilerplate set is bounded by construction (top-k via
    // TakeOrderedAndProject, never a global sort) so membership is a
    // broadcast join; ties at the cutoff break on the gram text in
    // both engines. Two key-partitioned shuffles total.
    QueryDef("q72_boilerplate",
      """WITH t AS (
        |  SELECT doc_id, list_filter(
        |    string_split_regex(trim(text), '\s+'), x -> x <> '') AS t
        |  FROM documents
        |), sh AS (
        |  SELECT doc_id, unnest(list_transform(generate_series(1, len(t)-2),
        |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS g
        |  FROM t WHERE len(t) >= 3
        |), freq AS (
        |  SELECT g, count(*) AS cnt FROM sh GROUP BY g
        |), top AS (
        |  SELECT g FROM freq ORDER BY cnt DESC, g LIMIT 50
        |)
        |SELECT s.doc_id,
        |  round(CAST(count(t.g) AS DOUBLE) / count(*), 6) + 0.0 AS boiler_frac,
        |  (CAST(count(t.g) AS DOUBLE) / count(*) < 0.05) AS keep
        |FROM sh s LEFT JOIN top t USING (g)
        |GROUP BY s.doc_id ORDER BY s.doc_id""".stripMargin) { (s, dir) =>
      val grams3 = org.apache.spark.sql.graft.CatalystBridge.column(
        graft.plans.ShingleTokens(
          org.apache.spark.sql.graft.CatalystBridge.expr(trim(col("text"))),
          3, dedupe = false))
      val sh = Tables.documents(s, dir)
        .fanOutScan(col("doc_id")) // scale-adaptive scan fan-out (r16)
        .select(col("doc_id"), explode(grams3).as("g"))
      val freq = sh.groupBy("g").agg(count(lit(1)).as("cnt"))
      val top = freq.orderBy(desc("cnt"), asc("g")).limit(50)
        .select(col("g"), lit(1).as("hit"))
      val frac = count(col("hit")).cast("double") / count(lit(1))
      sh.join(broadcast(top), Seq("g"), "left")
        .groupBy("doc_id")
        .agg(gf.roundz(frac, 6).as("boiler_frac"), (frac < 0.05).as("keep"))
        .orderBy("doc_id")
    },

    // Pairwise source-vocabulary overlap (exact Jaccard): the corpus
    // composition diagnostic run before choosing mixture weights. The
    // self-join pairs sources WITHIN a token's postings — cost per
    // token is |sources(tok)|², bounded by the source count squared,
    // never doc×doc. Vocabulary sizes ride in as a broadcast. At a
    // 100 TB scale with millions of domains the same query runs on
    // MinHash signatures per source (q28 machinery) instead of exact
    // postings; with a bounded source set the exact form is the right
    // plan.
    QueryDef("q73_vocab_overlap",
      """WITH st AS (
        |  SELECT DISTINCT source, tok FROM (
        |    SELECT source, unnest(list_filter(
        |      string_split_regex(trim(text), '\s+'), x -> x <> '')) AS tok
        |    FROM documents)
        |), sz AS (
        |  SELECT source, count(*) AS n FROM st GROUP BY source
        |)
        |SELECT a.source AS src_a, b.source AS src_b, count(*) AS n_shared,
        |  round(CAST(count(*) AS DOUBLE)
        |    / (CAST(sa.n AS DOUBLE) + sb.n - count(*)), 6) + 0.0 AS jaccard
        |FROM st a JOIN st b ON a.tok = b.tok AND a.source < b.source
        |JOIN sz sa ON sa.source = a.source
        |JOIN sz sb ON sb.source = b.source
        |GROUP BY a.source, b.source, sa.n, sb.n
        |ORDER BY src_a, src_b""".stripMargin) { (s, dir) =>
      // NOT moved to the tf backbone (r15, measured 0.42 → 0.57 s at
      // sf0.1): the fused scan+explode+distinct with ReuseExchange
      // beats the table-backed distinct at this scale.
      val st = Tables.documents(s, dir)
        .fanOutScan(col("doc_id")) // scale-aware scan fan-out
        .select(col("source"), explode(gf.tokens(col("text"))).as("tok"))
        .distinct()
      val sz = st.groupBy("source").agg(count(lit(1)).as("n"))
      st.toDF("src_a", "tok")
        .join(st.toDF("src_b", "tok"), Seq("tok"))
        .filter(col("src_a") < col("src_b"))
        .groupBy("src_a", "src_b").agg(count(lit(1)).as("n_shared"))
        .join(broadcast(sz.toDF("src_a", "na")), "src_a")
        .join(broadcast(sz.toDF("src_b", "nb")), "src_b")
        .select(col("src_a"), col("src_b"), col("n_shared"),
          gf.roundz(col("n_shared").cast("double")
            / (col("na").cast("double") + col("nb") - col("n_shared")), 6)
            .as("jaccard"))
        .orderBy("src_a", "src_b")
    },

    // Decontamination, scale path: q62's exact eval-overlap check with
    // a Bloom-filter PREFILTER in front of the verify join. The eval
    // side (bounded by contract) collapses to a ~MB bitmap built
    // distributed (`stat.bloomFilter` treeAggregate) and embedded in
    // the plan as a literal, so the corpus side drops non-overlapping
    // shingles BEFORE its shuffle — at 100 TB that's the difference
    // between shuffling every corpus shingle and shuffling only the
    // ~overlapping sliver. False positives cost nothing but a little
    // extra shuffle: the equi-join behind the probe removes them, so
    // the result is oracle-EXACT (false negatives are impossible).
    // Output is the keep/drop decision table q62's counts imply.
    QueryDef("q74_bloom_decontaminate",
      """WITH sh AS (
        |  SELECT DISTINCT doc_id, source, tok FROM (
        |    SELECT doc_id, source, unnest(list_transform(
        |      generate_series(1, len(t) - 4),
        |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4])) AS tok
        |    FROM (SELECT doc_id, source,
        |            list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS t
        |          FROM documents)
        |  )
        |), bench AS (SELECT DISTINCT tok FROM sh WHERE source = 'src0'),
        |cnt AS (
        |  SELECT s.doc_id, count(*) AS n_shared
        |  FROM sh s JOIN bench b ON s.tok = b.tok
        |  WHERE s.source <> 'src0' GROUP BY s.doc_id
        |)
        |SELECT d.doc_id, d.source, coalesce(c.n_shared, 0) AS n_shared,
        |  coalesce(c.n_shared, 0) >= 2 AS contaminated
        |FROM documents d LEFT JOIN cnt c ON d.doc_id = c.doc_id
        |WHERE d.source <> 'src0'
        |ORDER BY d.doc_id""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.catalyst.expressions.Literal
      import org.apache.spark.sql.graft.CatalystBridge
      def sh5(c: Column): Column = CatalystBridge.column(
        graft.plans.ShingleTokens(CatalystBridge.expr(trim(c)), 5))
      // r16 (VERDICT r15 item 3): the src0 shingle pass ran TWICE —
      // once for the bloom-build action, once under the broadcast —
      // and the corpus text was shuffled by an unconditional
      // repartition. The scan now fans out adaptively (fanOutScan — a
      // no-op at cluster scale), and the bench shingle set persists
      // tracked so the bloom build materializes it once and the
      // broadcast reuses the cache. The per-doc count aggregate does
      // map-side partials, so the post-join exchange ships
      // (doc_id, partial) rows, never text.
      val sh = Tables.documents(s, dir)
        .fanOutScan(col("doc_id"))
        .select(col("doc_id"), col("source"),
          explode(sh5(col("text"))).as("tok"))
      val bench = graft.CacheRegistry.persistTracked(
        sh.filter(col("source") === "src0").select("tok").distinct(),
        graft.CacheRegistry.DataSized) // eval-set-bounded by contract
      val bloom = graft.plans.BloomProbe.serialize(
        bench.stat.bloomFilter("tok", 500000, 0.01))
      val probe = CatalystBridge.column(graft.plans.BloomProbe(
        Literal(bloom), CatalystBridge.expr(col("tok"))))
      val counts = sh.filter(col("source") =!= "src0").filter(probe)
        .join(broadcast(bench), "tok")
        .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
      Tables.documents(s, dir).filter(col("source") =!= "src0")
        .select(col("doc_id"), col("source"))
        .join(counts, Seq("doc_id"), "left")
        .select(col("doc_id"), col("source"),
          coalesce(col("n_shared"), lit(0L)).as("n_shared"),
          (coalesce(col("n_shared"), lit(0L)) >= 2).as("contaminated"))
        .orderBy("doc_id")
    },

    // PII scrubbing: detect-and-redact emails / IPv4s / phone-shaped
    // numbers with codegen'd regexp_replace chains — a pure per-row
    // map, no shuffle, the shape every privacy pass over a training
    // corpus takes. The synthetic corpus carries no PII (no digits at
    // all), so the query DETERMINISTICALLY INJECTS doc_id-derived PII
    // inside the query text itself — identically in Spark and the
    // oracle — making the scrubbed-text md5 a real cross-engine
    // witness of match boundaries and replacement semantics. Patterns
    // are kept to the RE2 ∩ java.util.regex common dialect.
    QueryDef("q75_pii_scrub",
      """WITH aug AS (
        |  SELECT doc_id,
        |    trim(text) || ' contact user' || CAST(doc_id AS VARCHAR)
        |      || '@mail.example.com or call 555-01'
        |      || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0')
        |      || repeat(' ping 10.0.0.' || CAST(doc_id % 250 AS VARCHAR),
        |                CAST(1 + doc_id % 3 AS INT)) AS s
        |  FROM documents
        |)
        |SELECT doc_id,
        |  len(regexp_extract_all(s, '[a-z0-9._]+@[a-z0-9.]+\.[a-z]{2,}')) AS n_email,
        |  len(regexp_extract_all(s, '\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}')) AS n_ip,
        |  len(regexp_extract_all(s, '\d{3}-\d{2,4}')) AS n_phone,
        |  md5(regexp_replace(regexp_replace(regexp_replace(s,
        |    '[a-z0-9._]+@[a-z0-9.]+\.[a-z]{2,}', '<EMAIL>', 'g'),
        |    '\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}', '<IP>', 'g'),
        |    '\d{3}-\d{2,4}', '<PHONE>', 'g')) AS scrubbed_md5
        |FROM aug ORDER BY doc_id""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.graft.CatalystBridge
      val aug = concat(
        trim(col("text")),
        lit(" contact user"), col("doc_id").cast("string"),
        lit("@mail.example.com or call 555-01"),
        lpad((col("doc_id") % 100).cast("string"), 2, "0"),
        expr("repeat(concat(' ping 10.0.0.', cast(doc_id % 250 as string)), " +
          "cast(1 + doc_id % 3 as int))"))
      // One native pass (graft.plans.PiiScrub): counts on the original
      // string, chained email→ip→phone redaction — same semantics as
      // the 6-expression regexp composition the oracle runs, one
      // decode and five matcher passes instead of six independent
      // regex executions per row (PiiScrubSpec holds the equivalence,
      // including the overlap corner where a fused single pass would
      // diverge).
      Tables.documents(s, dir)
        .fanOutScan(col("doc_id")) // scale-adaptive scan fan-out (r16)
        .select(col("doc_id"),
          CatalystBridge.column(graft.plans.PiiScrub(
            CatalystBridge.expr(aug))).as("p"))
        .select(col("doc_id"),
          col("p.n_email").as("n_email"),
          col("p.n_ip").as("n_ip"),
          col("p.n_phone").as("n_phone"),
          md5(col("p.scrubbed")).as("scrubbed_md5"))
        .orderBy("doc_id")
    },

    // Zipf rank-frequency slope per source: least-squares slope of
    // ln(freq) over ln(rank) across the top-100 ranks — the "does this
    // source look like natural language" drift check. The per-source
    // top-100 is the row_number-window top-k idiom, which
    // TopKRewriteRule turns into the sort-free TopKPerKey plan when
    // stats allow; past the rank cut only ≤100 points per source
    // remain, so the regression aggregate is a bounded groupBy. The
    // slope is computed from explicit sum moments (not regr_slope) so
    // both engines evaluate the identical formula.
    QueryDef("q76_zipf_slope",
      """WITH tf AS (
        |  SELECT source, tok, count(*) AS cnt FROM (
        |    SELECT source, unnest(list_filter(
        |      string_split_regex(trim(text), '\s+'), x -> x <> '')) AS tok
        |    FROM documents) GROUP BY source, tok
        |), ranked AS (
        |  SELECT source, tok, cnt, row_number() OVER (
        |    PARTITION BY source ORDER BY cnt DESC, tok) AS r
        |  FROM tf
        |), pts AS (
        |  SELECT source, ln(CAST(r AS DOUBLE)) AS x, ln(CAST(cnt AS DOUBLE)) AS y
        |  FROM ranked WHERE r <= 100
        |)
        |SELECT source, count(*) AS n_ranks,
        |  round((count(*) * sum(x*y) - sum(x) * sum(y))
        |    / (count(*) * sum(x*x) - sum(x) * sum(x)), 6) + 0.0 AS zipf_slope
        |FROM pts GROUP BY source ORDER BY source""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      // (source, tok, cnt) from the shared tf backbone (r15) — same
      // integers as the fresh tokenize.
      val tf = tfFor(s, dir)
        .groupBy(col("source"), col("term").as("tok"))
        .agg(sum("tf").as("cnt"))
      val w = Window.partitionBy("source").orderBy(desc("cnt"), asc("tok"))
      val pts = tf.withColumn("r", row_number().over(w))
        .filter(col("r") <= 100)
        .select(col("source"),
          log(col("r").cast("double")).as("x"),
          log(col("cnt").cast("double")).as("y"))
      val n = count(lit(1))
      pts.groupBy("source").agg(
        n.as("n_ranks"),
        gf.roundz((n * sum(col("x") * col("y")) - sum(col("x")) * sum(col("y")))
          / (n * sum(col("x") * col("x")) - sum(col("x")) * sum(col("x"))), 6)
          .as("zipf_slope"))
        .orderBy("source")
    },

    // Cross-doc repeated-passage coverage: for every doc, the fraction
    // of its 6-token windows whose rolling hash also occurs in some
    // OTHER doc — the per-doc verbatim-duplication metric behind
    // exact-substring dedup (drop/trim docs that are mostly copies of
    // passages seen elsewhere). Windows come from the native O(n)
    // Rabin-Karp expression; the shared set is one (wh → distinct-doc
    // count) aggregate and an equi-join back on the hash —
    // key-partitioned shuffles only, nothing doc×doc. Matching is at
    // hash granularity (32-bit) by design, as in production passage
    // dedup; both engines compute the identical hash, so the oracle is
    // exact.
    QueryDef("q77_repeated_passages", {
      val B = graft.plans.RollingHashWindows.Base
      val mask = 0xffffffffL
      val b2 = (B * B) & mask
      val b3 = (b2 * B) & mask
      val b4 = (b3 * B) & mask
      val b5 = (b4 * B) & mask
      s"""WITH toks AS (
         |  SELECT doc_id, t FROM (
         |    SELECT doc_id,
         |      list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS t
         |    FROM documents)
         |  WHERE len(t) >= 6
         |), th AS (
         |  SELECT doc_id,
         |    list_transform(t, x ->
         |      CAST(concat('0x', substr(md5(x), 1, 15)) AS BIGINT) % 4294967296) AS h
         |  FROM toks
         |), wins AS (
         |  SELECT doc_id,
         |    CAST((CAST(h[i] AS HUGEINT) * $b5 + CAST(h[i+1] AS HUGEINT) * $b4
         |          + CAST(h[i+2] AS HUGEINT) * $b3 + CAST(h[i+3] AS HUGEINT) * $b2
         |          + CAST(h[i+4] AS HUGEINT) * $B + h[i+5]) % 4294967296 AS BIGINT) AS wh
         |  FROM th, unnest(generate_series(1, len(h) - 5)) AS g(i)
         |), rep AS (
         |  SELECT wh FROM wins GROUP BY wh HAVING count(DISTINCT doc_id) >= 2
         |), per_doc AS (
         |  SELECT doc_id, count(*) AS n_windows FROM wins GROUP BY doc_id
         |), shared AS (
         |  SELECT w.doc_id, count(*) AS n_shared
         |  FROM wins w JOIN rep r ON w.wh = r.wh GROUP BY w.doc_id
         |)
         |SELECT p.doc_id, p.n_windows, coalesce(s.n_shared, 0) AS n_shared,
         |  round(CAST(coalesce(s.n_shared, 0) AS DOUBLE) / p.n_windows, 6) + 0.0 AS shared_frac
         |FROM per_doc p LEFT JOIN shared s ON p.doc_id = s.doc_id
         |ORDER BY p.doc_id""".stripMargin
    }) { (s, dir) =>
      val wins = windowsFor(s, dir).select("doc_id", "wh")
      val rep = wins.groupBy("wh")
        .agg(countDistinct(col("doc_id")).as("nd"))
        .filter(col("nd") >= 2).select("wh")
      val perDoc = wins.groupBy("doc_id").agg(count(lit(1)).as("n_windows"))
      val shared = wins.join(rep, "wh")
        .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
      perDoc.join(shared, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_windows"),
          coalesce(col("n_shared"), lit(0L)).as("n_shared"),
          gf.roundz(coalesce(col("n_shared"), lit(0L)).cast("double")
            / col("n_windows"), 6).as("shared_frac"))
        .orderBy("doc_id")
    },

    // The blocklist view of the same windows: the top-20 most-repeated
    // 6-token passages by (distinct docs, total occurrences) — what a
    // pipeline materializes before hand-reviewing and blocklisting
    // boilerplate passages. Bounded top-k (TakeOrderedAndProject),
    // ties broken on the hash so the cut is total in both engines.
    QueryDef("q78_passage_heavy_hitters", {
      val B = graft.plans.RollingHashWindows.Base
      val mask = 0xffffffffL
      val b2 = (B * B) & mask
      val b3 = (b2 * B) & mask
      val b4 = (b3 * B) & mask
      val b5 = (b4 * B) & mask
      s"""WITH toks AS (
         |  SELECT doc_id, t FROM (
         |    SELECT doc_id,
         |      list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS t
         |    FROM documents)
         |  WHERE len(t) >= 6
         |), th AS (
         |  SELECT doc_id,
         |    list_transform(t, x ->
         |      CAST(concat('0x', substr(md5(x), 1, 15)) AS BIGINT) % 4294967296) AS h
         |  FROM toks
         |), wins AS (
         |  SELECT doc_id,
         |    CAST((CAST(h[i] AS HUGEINT) * $b5 + CAST(h[i+1] AS HUGEINT) * $b4
         |          + CAST(h[i+2] AS HUGEINT) * $b3 + CAST(h[i+3] AS HUGEINT) * $b2
         |          + CAST(h[i+4] AS HUGEINT) * $B + h[i+5]) % 4294967296 AS BIGINT) AS wh
         |  FROM th, unnest(generate_series(1, len(h) - 5)) AS g(i)
         |)
         |SELECT wh, count(DISTINCT doc_id) AS n_docs, count(*) AS n_occurrences
         |FROM wins GROUP BY wh
         |ORDER BY n_docs DESC, n_occurrences DESC, wh LIMIT 20""".stripMargin
    }) { (s, dir) =>
      windowsFor(s, dir)
        .groupBy("wh")
        .agg(countDistinct(col("doc_id")).as("n_docs"),
          count(lit(1)).as("n_occurrences"))
        .orderBy(desc("n_docs"), desc("n_occurrences"), asc("wh"))
        .limit(20)
    },

    // ExactSubstr-style duplicated-SPAN accounting (Lee et al. 2016/
    // 2021, "Deduplicating Training Data Makes Language Models
    // Better" — public knowledge): q77 counts duplicated fixed-width
    // windows; production exact-substring dedup needs the MAXIMAL
    // duplicated regions those windows tile — consecutive duplicated
    // window starts (gap ≤ L) merge into one span (the suffix-array
    // output post-process), giving per-doc removable-token accounting.
    // Scale shape: the rep set is the same pair-keyed aggregate q77
    // ships; span merging is ONE per-doc aggregate over the
    // duplicated window starts (state bounded by one doc's windows —
    // the codegen'd SpanIslands walk), never a pairwise or
    // corpus-wide sort.
    QueryDef("q105_exact_substr_spans", {
      val B = graft.plans.RollingHashWindows.Base
      val mask = 0xffffffffL
      val b2 = (B * B) & mask
      val b3 = (b2 * B) & mask
      val b4 = (b3 * B) & mask
      val b5 = (b4 * B) & mask
      s"""WITH toks AS (
         |  SELECT doc_id, t FROM (
         |    SELECT doc_id,
         |      list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS t
         |    FROM documents)
         |  WHERE len(t) >= 6
         |), th AS (
         |  SELECT doc_id,
         |    list_transform(t, x ->
         |      CAST(concat('0x', substr(md5(x), 1, 15)) AS BIGINT) % 4294967296) AS h
         |  FROM toks
         |), wins AS (
         |  SELECT doc_id, CAST(i AS BIGINT) AS i,
         |    CAST((CAST(h[i] AS HUGEINT) * $b5 + CAST(h[i+1] AS HUGEINT) * $b4
         |          + CAST(h[i+2] AS HUGEINT) * $b3 + CAST(h[i+3] AS HUGEINT) * $b2
         |          + CAST(h[i+4] AS HUGEINT) * $B + h[i+5]) % 4294967296 AS BIGINT) AS wh
         |  FROM th, unnest(generate_series(1, len(h) - 5)) AS g(i)
         |), rep AS (
         |  SELECT wh FROM wins GROUP BY wh HAVING count(DISTINCT doc_id) >= 2
         |), dup AS (
         |  SELECT w.doc_id, w.i FROM wins w JOIN rep r ON w.wh = r.wh
         |), brk AS (
         |  SELECT doc_id, i,
         |    CASE WHEN lag(i) OVER (PARTITION BY doc_id ORDER BY i) IS NULL
         |         OR i - lag(i) OVER (PARTITION BY doc_id ORDER BY i) > 6
         |    THEN 1 ELSE 0 END AS b
         |  FROM dup
         |), grp AS (
         |  SELECT doc_id, i, sum(b) OVER (PARTITION BY doc_id ORDER BY i) AS g
         |  FROM brk
         |), spans AS (
         |  SELECT doc_id, g, max(i) - min(i) + 6 AS span_toks
         |  FROM grp GROUP BY doc_id, g
         |), perdoc AS (
         |  SELECT doc_id, count(*) AS n_spans,
         |    CAST(sum(span_toks) AS BIGINT) AS dup_tokens
         |  FROM spans GROUP BY doc_id
         |), base AS (SELECT doc_id, len(t) AS n_tokens FROM toks)
         |SELECT b.doc_id,
         |  coalesce(p.n_spans, 0) AS n_spans,
         |  coalesce(p.dup_tokens, 0) AS dup_tokens,
         |  round(CAST(coalesce(p.dup_tokens, 0) AS DOUBLE) / b.n_tokens, 6) + 0.0
         |    AS dup_frac
         |FROM base b LEFT JOIN perdoc p ON b.doc_id = p.doc_id
         |ORDER BY b.doc_id""".stripMargin
    }) { (s, dir) =>
      val L = 6
      // r16: n_tokens from the tf backbone — Σ tf per doc IS the fresh
      // tokenize's size(tokens(text)) exactly (same ShingleTokens
      // width-1 pass builds graft_tf), so the base branch stops
      // reading + regex-splitting the fat text column per run: a
      // doc_id-bucketed (doc_id, tf) scan + bucket-local sum replaces
      // the corpus text scan (§6 column pruning — ReadSchema drops
      // `text`). Docs under L tokens are filtered identically; docs
      // with zero tokens have no tf rows and were below L anyway.
      val toked = tfFor(s, dir)
        .groupBy("doc_id").agg(sum("tf").as("n_tokens"))
        .filter(col("n_tokens") >= L)
      // Window frame read TWICE (rep census + dup join) — and shared
      // with q77/q78: the session-materialized bucketed table replaces
      // both the per-query corpus re-hash and the in-memory persist
      // (which sat exposed to the suite's cache pressure — the round-9
      // in-suite/standalone 2× gap).
      // r16: the island walk (lag break flags + running-sum group ids
      // — two doc-keyed WindowExec passes plus a (doc, g) aggregate)
      // fused into ONE per-doc aggregate + the codegen'd
      // [[graft.plans.SpanIslands]] walk: per island, span_toks =
      // max − min + L, so `covered` ≡ sum(span_toks) and `n_spans`
      // the island count — the same integers (SpanIslandsSpec pins
      // equality with the window-pair form; the oracle pins the
      // contract).
      val wins = windowsFor(s, dir)
      val rep = wins.groupBy("wh")
        .agg(countDistinct(col("doc_id")).as("nd"))
        .filter(col("nd") >= 2).select("wh")
      val dup = wins.join(rep, "wh").select("doc_id", "i")
      val perDoc = dup.groupBy("doc_id")
        .agg(collect_list(col("i")).as("__ps"))
        .select(col("doc_id"),
          org.apache.spark.sql.graft.CatalystBridge.column(
            graft.plans.SpanIslands(
              org.apache.spark.sql.graft.CatalystBridge.expr(col("__ps")),
              L)).as("__isl"))
        .select(col("doc_id"), col("__isl.n_spans").as("n_spans"),
          col("__isl.covered").as("dup_tokens"))
      toked.select("doc_id", "n_tokens")
        .join(perDoc, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_spans"), lit(0L)).as("n_spans"),
          coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
          gf.roundz(coalesce(col("dup_tokens"), lit(0L)).cast("double")
            / col("n_tokens"), 6).as("dup_frac"))
        .orderBy("doc_id")
    },

    // T63's EMITTER — the ExactSubstr POST-PROCESS (Lee et al. 2021
    // §4): q105 counts the removable duplicated-span tokens; this
    // query EMITS the cleaned corpus (md5-witnessed, q134's stance —
    // the full rewritten text never ships as an output column). Spans
    // are q105's islands exactly (break at start-gap > 6 ≡ the union
    // of covered positions), so removed_tokens here EQUALS q105's
    // dup_tokens per doc — a cross-query invariant the oracle checks
    // for free. Rebuild = token posexplode + doc_id-equi ANTI join
    // against the per-doc span list (spans per doc are few; no pair
    // explosion) + ONE per-doc kept-token collect — the q134 idiom,
    // O(doc) state. Docs with < 6 tokens pass through whitespace-
    // normalized; fully-covered docs emit md5(''). The reusable
    // cleaned-TEXT transform is [[graft.operators.Dedup
    // .removeDuplicatedSpans]]; this query rides the shared
    // windowsFor table instead of re-hashing the corpus.
    QueryDef("q173_remove_dup_spans", {
      val B = graft.plans.RollingHashWindows.Base
      val mask = 0xffffffffL
      val b2 = (B * B) & mask
      val b3 = (b2 * B) & mask
      val b4 = (b3 * B) & mask
      val b5 = (b4 * B) & mask
      s"""WITH toksall AS (
         |  SELECT doc_id,
         |    list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS t
         |  FROM documents
         |), toks AS (
         |  SELECT doc_id, t FROM toksall WHERE len(t) >= 6
         |), th AS (
         |  SELECT doc_id,
         |    list_transform(t, x ->
         |      CAST(concat('0x', substr(md5(x), 1, 15)) AS BIGINT) % 4294967296) AS h
         |  FROM toks
         |), wins AS (
         |  SELECT doc_id, CAST(i AS BIGINT) AS i,
         |    CAST((CAST(h[i] AS HUGEINT) * $b5 + CAST(h[i+1] AS HUGEINT) * $b4
         |          + CAST(h[i+2] AS HUGEINT) * $b3 + CAST(h[i+3] AS HUGEINT) * $b2
         |          + CAST(h[i+4] AS HUGEINT) * $B + h[i+5]) % 4294967296 AS BIGINT) AS wh
         |  FROM th, unnest(generate_series(1, len(h) - 5)) AS g(i)
         |), rep AS (
         |  SELECT wh FROM wins GROUP BY wh HAVING count(DISTINCT doc_id) >= 2
         |), dup AS (
         |  SELECT w.doc_id, w.i FROM wins w JOIN rep r ON w.wh = r.wh
         |), brk AS (
         |  SELECT doc_id, i,
         |    CASE WHEN lag(i) OVER (PARTITION BY doc_id ORDER BY i) IS NULL
         |         OR i - lag(i) OVER (PARTITION BY doc_id ORDER BY i) > 6
         |    THEN 1 ELSE 0 END AS b
         |  FROM dup
         |), grp AS (
         |  SELECT doc_id, i, sum(b) OVER (PARTITION BY doc_id ORDER BY i) AS g
         |  FROM brk
         |), spans AS (
         |  SELECT doc_id, min(i) AS s, max(i) + 5 AS e
         |  FROM grp GROUP BY doc_id, g
         |), tok AS (
         |  SELECT doc_id, CAST(i AS BIGINT) AS p, t[i] AS tok
         |  FROM toksall, unnest(generate_series(1, len(t))) AS g(i)
         |), kept AS (
         |  SELECT k.doc_id, k.p, k.tok FROM tok k
         |  WHERE NOT EXISTS (SELECT 1 FROM spans sp
         |    WHERE sp.doc_id = k.doc_id AND k.p BETWEEN sp.s AND sp.e)
         |)
         |SELECT d.doc_id, CAST(len(d.t) AS BIGINT) AS n_tokens,
         |  CAST(len(d.t) - count(k.p) AS BIGINT) AS removed_tokens,
         |  md5(coalesce(string_agg(k.tok, ' ' ORDER BY k.p), '')) AS cleaned_md5
         |FROM toksall d LEFT JOIN kept k ON d.doc_id = k.doc_id
         |GROUP BY d.doc_id, len(d.t)
         |ORDER BY d.doc_id""".stripMargin
    }) { (s, dir) =>
      import org.apache.spark.sql.graft.CatalystBridge
      val L = 6
      // Fused rebuild (r15, PERF #55): BenchCount attributed q173's
      // whole sf10x cost (18.7 s full vs 0.5 s count-only) to the
      // witness tail — corpus-wide token posexplode + anti-join +
      // per-doc collect/sort/join/md5. The span list travels as two
      // per-doc position arrays and ONE codegen'd
      // [[graft.plans.RemoveSpans]] pass does skip+rejoin; kept/
      // cleaned are the same integers/bytes (RemoveSpansSpec pins
      // parity against the explode shape; the oracle pins the rest).
      // r16: the span DERIVATION is fused too — duplicatedSpanArrays
      // builds the per-doc arrays with one aggregate + the codegen'd
      // SpanIslands walk, replacing the lag/running-sum WindowExec
      // pair and this query's own re-collect of the exploded spans.
      val perDoc = graft.operators.Dedup
        .duplicatedSpanArrays(windowsFor(s, dir), L)
      val emptyPos = typedLit(Array.empty[Long])
      // Assumes documents.text is non-null (it is, by the generator's
      // schema): a null text would yield null toks → null rs →
      // null cleaned_md5 where the old explode shape emitted md5('').
      Tables.documents(s, dir)
        .fanOutScan(col("doc_id"))
        .select(col("doc_id"), gf.tokens(col("text")).as("toks"))
        .join(perDoc, Seq("doc_id"), "left")
        .select(col("doc_id"),
          size(col("toks")).cast("long").as("n_tokens"),
          CatalystBridge.column(graft.plans.RemoveSpans(
            CatalystBridge.expr(col("toks")),
            CatalystBridge.expr(coalesce(col("__ss"), emptyPos)),
            CatalystBridge.expr(coalesce(col("__es"), emptyPos)))).as("rs"))
        .select(col("doc_id"), col("n_tokens"),
          (col("n_tokens") - col("rs.kept")).as("removed_tokens"),
          md5(col("rs.cleaned")).as("cleaned_md5"))
        .orderBy("doc_id")
    },

    // Per-source top-5 tokens via the Misra-Gries sketch + exact
    // rescore: the sketch pass ships ≤k counters per partition instead
    // of one row per DISTINCT token (the 100 TB shape — billions of
    // distinct tokens never reach a shuffle), the rescore pass recounts
    // ONLY the ≤k surviving candidates (broadcast semi-join) so the
    // final ranks are exact, not approximate. Exactness bar: MG with
    // k=64 cannot evict any token with count > N_src/65 — a true top-5
    // token below that bar would mean an essentially uniform source
    // where "top" is meaningless. Oracle = the plain GROUP BY + rank
    // the sketch path must reproduce.
    QueryDef("q79_sketch_topk",
      """WITH toks AS (
        |  SELECT source, unnest(list_filter(
        |    string_split_regex(trim(text), '\s+'), x -> x <> '')) AS tok
        |  FROM documents
        |), cnts AS (
        |  SELECT source, tok, count(*) AS cnt FROM toks GROUP BY source, tok
        |), ranked AS (
        |  SELECT source, tok, cnt,
        |    row_number() OVER (PARTITION BY source ORDER BY cnt DESC, tok) AS rank
        |  FROM cnts
        |)
        |SELECT source, tok, cnt, rank FROM ranked WHERE rank <= 5
        |ORDER BY source, rank""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.graft.CatalystBridge
      val toks = Tables.documents(s, dir)
        .fanOutScan(col("doc_id")) // scale-aware scan fan-out
        .select(col("source"), explode(gf.tokens(col("text"))).as("tok"))
      val cand = toks.groupBy("source")
        .agg(CatalystBridge.column(graft.plans.FreqSketch(
            CatalystBridge.expr(col("tok")), 64).toAggregateExpression())
          .as("sk"))
        .select(col("source"), explode(col("sk")).as("hh"))
        .select(col("source"), col("hh.item").as("tok"))
      val rescored = toks.join(broadcast(cand), Seq("source", "tok"))
        .groupBy("source", "tok").agg(count(lit(1)).as("cnt"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("source").orderBy(desc("cnt"), asc("tok"))
      rescored
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 5)
        .orderBy("source", "rank")
    },

    // DSIR-style importance weighting (Data Selection via Importance
    // Resampling): score every doc by the mean log-ratio of a target
    // domain's smoothed unigram model (source 'src1' plays the
    // high-quality target) vs the whole-corpus model — the cheap
    // importance weight pipelines use to up-sample target-like data.
    // Scale shape: ONE (tok) aggregate carries both models (the target
    // count rides along as a conditional count), totals are a lazy
    // 1-row broadcast (the q46/q68 pattern), scoring is a token
    // equi-join + per-doc aggregate. Laplace (+1, / (N+V)) smoothing
    // keeps out-of-target tokens finite.
    QueryDef("q81_dsir_weights",
      """WITH toks AS (
        |  SELECT doc_id, source, unnest(list_filter(
        |    string_split_regex(trim(text), '\s+'), x -> x <> '')) AS tok
        |  FROM documents
        |), freqs AS (
        |  SELECT tok, count(*) AS c_g,
        |    count(*) FILTER (WHERE source = 'src1') AS c_t
        |  FROM toks GROUP BY tok
        |), totals AS (
        |  SELECT CAST(sum(c_g) AS DOUBLE) AS n_g,
        |    CAST(sum(c_t) AS DOUBLE) AS n_t,
        |    CAST(count(*) AS DOUBLE) AS v
        |  FROM freqs
        |)
        |SELECT t.doc_id, count(*) AS n_toks,
        |  round(avg(ln(((f.c_t + 1) / (totals.n_t + totals.v))
        |           / ((f.c_g + 1) / (totals.n_g + totals.v)))), 6) + 0.0 AS dsir_logweight
        |FROM toks t JOIN freqs f ON t.tok = f.tok CROSS JOIN totals
        |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin) { (s, dir) =>
      val toks = Tables.documents(s, dir)
        .fanOutScan(col("doc_id"))
        .select(col("doc_id"), col("source"),
          explode(gf.tokens(col("text"))).as("tok"))
      val freqs = toks.groupBy("tok").agg(
        count(lit(1)).as("c_g"),
        count(when(col("source") === "src1", 1)).as("c_t"))
      val totals = freqs.agg(
        sum("c_g").cast("double").as("n_g"),
        sum("c_t").cast("double").as("n_t"),
        count(lit(1)).cast("double").as("v"))
      toks.join(freqs, "tok")
        .crossJoin(broadcast(totals))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_toks"),
          gf.roundz(avg(log(
            ((col("c_t") + 1) / (col("n_t") + col("v"))) /
              ((col("c_g") + 1) / (col("n_g") + col("v"))))), 6)
            .as("dsir_logweight"))
        .orderBy("doc_id")
    },

    // Per-source document caps (RefinedWeb-style domain caps): bound
    // any one source's contribution to the mix by keeping only its
    // top-`cap` docs under a quality ordering (content length here;
    // the score column is pluggable). The row_number idiom is
    // TopKPerKey-rewrite-eligible (q76's live-rank path): under
    // GraftExtensions the executed plan is a bounded heap per source
    // — one shuffle, no per-source sort, ≤ cap rows out per key no
    // matter how skewed a source's doc count is.
    QueryDef("q84_source_caps",
      """SELECT source, doc_id, n_chars, rank FROM (
        |  SELECT source, doc_id, n_chars,
        |    row_number() OVER (PARTITION BY source
        |                       ORDER BY n_chars DESC, doc_id) AS rank
        |  FROM documents)
        |WHERE rank <= 10 ORDER BY source, rank""".stripMargin) { (s, dir) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("source").orderBy(desc("n_chars"), asc("doc_id"))
      Tables.documents(s, dir)
        .select(col("source"), col("doc_id"), col("n_chars"))
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 10)
        .orderBy("source", "rank")
    },

    // Exact-quota stratified sampling: per source, keep EXACTLY
    // greatest(1, ⌊cnt·20%⌋) documents, chosen deterministically by
    // (md5(doc_id), doc_id) order — the companion to q58's hash split
    // (proportional in EXPECTATION) for the cases where the sample
    // size must be exact per stratum (eval-set carving, per-source
    // quota audits). Scale shape: the quota table is one bounded
    // aggregate (source-keyed, broadcast back); the rank is a
    // per-stratum window — strata sort in parallel, Spark's
    // spill-capable external sort, and ONLY this contract needs a
    // sort at all (the expectation-based q58 path stays sortless).
    QueryDef("q107_stratified_sample",
      """WITH d AS (SELECT doc_id, source FROM documents),
        |q AS (
        |  SELECT source,
        |    GREATEST(1, CAST(floor(count(*) * 0.2) AS BIGINT)) AS quota
        |  FROM d GROUP BY source
        |), r AS (
        |  SELECT doc_id, source,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
        |  FROM d
        |)
        |SELECT r.doc_id, r.source, CAST(r.rk AS BIGINT) AS rk
        |FROM r JOIN q ON r.source = q.source
        |WHERE r.rk <= q.quota
        |ORDER BY r.doc_id""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("source"))
      val quotas = docs.groupBy("source")
        .agg(greatest(lit(1L), floor(count(lit(1)) * 0.2)).as("quota"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("source")
        .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
      docs
        .withColumn("rk", row_number().over(w).cast("long"))
        .join(broadcast(quotas), "source")
        .filter(col("rk") <= col("quota"))
        .select(col("doc_id"), col("source"), col("rk"))
        .orderBy("doc_id")
    },

    // Per-source token-BUDGET carve (operators/Sampling.tokenBudget):
    // q107 takes a ROW quota; assembling a training mix needs a TOKEN
    // budget — keep docs in deterministic (md5, id) order while the
    // inclusive per-source token prefix sum stays ≤ 300, then audit
    // docs/tokens/utilization per source (sources whose take is empty
    // still report zeros). Scale shape: one per-source window prefix
    // sum (strata sort in parallel, spill-capable), one bounded
    // source-keyed rollup.
    QueryDef("q108_token_budget",
      """WITH t AS (
        |  SELECT doc_id, source,
        |    CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
        |             x -> x <> '')) AS BIGINT) AS n_toks
        |  FROM documents
        |), r AS (
        |  SELECT source, n_toks,
        |    sum(n_toks) OVER (PARTITION BY source
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
        |      ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM t
        |), agg AS (
        |  SELECT source, count(*) AS n_docs,
        |    CAST(sum(n_toks) AS BIGINT) AS tokens
        |  FROM r WHERE cum <= 300 GROUP BY source
        |)
        |SELECT s.source, coalesce(a.n_docs, 0) AS n_docs,
        |  coalesce(a.tokens, 0) AS tokens,
        |  round(CAST(coalesce(a.tokens, 0) AS DOUBLE) / 300, 6) + 0.0
        |    AS utilization
        |FROM (SELECT DISTINCT source FROM documents) s
        |LEFT JOIN agg a ON s.source = a.source
        |ORDER BY s.source""".stripMargin) { (s, dir) =>
      val t = Tables.documents(s, dir)
        .fanOutScan(col("doc_id")) // scale-aware scan fan-out
        .select(col("doc_id"), col("source"),
          size(gf.tokens(col("text"))).cast("long").as("n_toks"))
      val kept = graft.operators.Sampling
        .tokenBudget(t, "source", "doc_id", "n_toks", 300L)
      val agg = kept.groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("n_toks").as("tokens"))
      t.select("source").distinct()
        .join(agg, Seq("source"), "left")
        .select(col("source"),
          coalesce(col("n_docs"), lit(0L)).as("n_docs"),
          coalesce(col("tokens"), lit(0L)).as("tokens"),
          gf.roundz(coalesce(col("tokens"), lit(0L)).cast("double") / 300, 6)
            .as("utilization"))
        .orderBy("source")
    },

    // Per-language length-outlier band filter: exact p05/p95
    // token-count thresholds per lang (R-7 interpolation on both
    // engines — the q63 parity), then a keep/drop census against the
    // band — how a pipeline calibrates and audits its length filter.
    // Scale shape: the percentile aggregate's state is
    // O(distinct lengths) per lang (thousands, not rows), the
    // threshold table is lang-sized → broadcast back onto the corpus;
    // no window over the full corpus.
    QueryDef("q85_length_band",
      """WITH n AS (
        |  SELECT lang,
        |    CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
        |             x -> x <> '')) AS DOUBLE) AS n
        |  FROM documents
        |), b AS (
        |  SELECT lang, quantile_cont(n, 0.05) AS lo, quantile_cont(n, 0.95) AS hi
        |  FROM n GROUP BY lang
        |)
        |SELECT n.lang, round(b.lo, 4) + 0.0 AS lo, round(b.hi, 4) + 0.0 AS hi,
        |  CAST(sum(CASE WHEN n.n BETWEEN b.lo AND b.hi THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  CAST(sum(CASE WHEN n.n BETWEEN b.lo AND b.hi THEN 0 ELSE 1 END) AS BIGINT) AS n_dropped
        |FROM n JOIN b ON n.lang = b.lang
        |GROUP BY n.lang, b.lo, b.hi ORDER BY n.lang""".stripMargin) { (s, dir) =>
      val n = Tables.documents(s, dir)
        .fanOutScan(col("doc_id")) // scale-adaptive scan fan-out (r16)
        .select(col("lang"), size(gf.tokens(col("text"))).cast("double").as("n"))
      val b = n.groupBy("lang").agg(
        expr("percentile(n, 0.05D)").as("lo"),
        expr("percentile(n, 0.95D)").as("hi"))
      val kept = when(col("n").between(col("lo"), col("hi")), 1L).otherwise(0L)
      n.join(broadcast(b), "lang")
        .select(col("lang"), col("lo"), col("hi"), kept.as("k"))
        .groupBy("lang", "lo", "hi")
        .agg(sum("k").as("n_kept"),
          (count(lit(1)) - sum(col("k"))).as("n_dropped"))
        .select(col("lang"), gf.roundz(col("lo"), 4).as("lo"),
          gf.roundz(col("hi"), 4).as("hi"), col("n_kept"), col("n_dropped"))
        .orderBy("lang")
    },

    // Bigram LM estimation: conditional transition probabilities
    // P(w2|w1) = c(w1 w2) / Σ_w c(w1 w) — the KenLM-style building
    // block behind model-based quality filters. Bigrams are per-row
    // array arithmetic (zip_with of the token array with its own tail
    // — no index join, no shuffle to form the pairs); c12 is one
    // (bigram) aggregate with partial agg upstream; the denominator
    // reuses c12 itself (grouped by first token — distinct-bigram
    // volume, far below corpus volume), so the corpus is tokenized
    // exactly once.
    QueryDef("q86_bigram_lm",
      """WITH docs AS (
        |  SELECT list_filter(string_split_regex(trim(text), '\s+'),
        |         x -> x <> '') AS t
        |  FROM documents
        |), bg AS (
        |  SELECT unnest(list_transform(generate_series(1, len(t) - 1),
        |    i -> t[i] || ' ' || t[i+1])) AS bigram
        |  FROM docs WHERE len(t) >= 2
        |), c12 AS (
        |  SELECT bigram, count(*) AS cnt FROM bg GROUP BY bigram
        |), c1 AS (
        |  SELECT split_part(bigram, ' ', 1) AS w1,
        |    CAST(sum(cnt) AS DOUBLE) AS c1
        |  FROM c12 GROUP BY 1
        |)
        |SELECT c12.bigram, c12.cnt, round(c12.cnt / c1.c1, 6) + 0.0 AS cond_p
        |FROM c12 JOIN c1 ON split_part(c12.bigram, ' ', 1) = c1.w1
        |ORDER BY cnt DESC, bigram LIMIT 25""".stripMargin) { (s, dir) =>
      // Bigram counts from the shared w1-bucketed table
      // ([[bigramCountsFor]]): summing k across docs/halves equals
      // counting raw bigram instances, and both LM aggregates plus
      // the probability join run shuffle-free off the scan; the only
      // remaining exchange is the 25-row TakeOrdered.
      val d = bigramCountsFor(s, dir)
      val c12 = d.groupBy("w1", "w2").agg(sum("k").as("cnt"))
      val c1 = c12.groupBy("w1").agg(sum("cnt").cast("double").as("c1"))
      c12.join(c1, "w1")
        .select(concat_ws(" ", col("w1"), col("w2")).as("bigram"),
          col("cnt"), gf.roundz(col("cnt") / col("c1"), 6).as("cond_p"))
        .orderBy(desc("cnt"), asc("bigram"))
        .limit(25)
    },

    // Incremental dedup: probe a NEW slice of the corpus against the
    // EXISTING corpus' LSH band buckets without ever self-joining the
    // whole corpus — the daily-ingest shape where today's crawl is
    // checked against a persisted index (q42's build-once story,
    // minhash flavor). The new/existing split is the stable doc_id
    // hash (10% new) — engine- and layout-independent. Signatures are
    // computed ONCE over the union; band buckets emit only
    // new×existing pairs (never new×new or existing×existing);
    // candidates are verified with exact 3-shingle Jaccard via the
    // codegen'd two-pointer [[graft.plans.SortedIntersectSize]] over
    // [[graft.plans.ShingleTokens]]' canonical sorted mode.
    QueryDef("q87_incremental_dedup",
      s"""WITH sh AS (
         |  $shingleSql
         |), hashed AS (
         |  $shingleHashSql
         |), sig AS (
         |  SELECT doc_id, $minhashSqlAggs FROM hashed GROUP BY doc_id
         |), bands AS (
         |  ${(0 until Bands).map(b =>
              s"SELECT doc_id, $b AS band_idx, ${bandSql(b)} AS band_hash FROM sig")
              .mkString("\n  UNION ALL\n  ")}
         |), flagged AS (
         |  SELECT doc_id, band_idx, band_hash,
         |    CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
         |         AS BIGINT) % 10000 < 1000 AS is_new
         |  FROM bands
         |), cand AS (
         |  SELECT DISTINCT n.doc_id AS doc_new, e.doc_id AS doc_old
         |  FROM flagged n JOIN flagged e
         |    ON n.band_idx = e.band_idx AND n.band_hash = e.band_hash
         |   AND n.is_new AND NOT e.is_new
         |), sizes AS (
         |  SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
         |), inter AS (
         |  SELECT c.doc_new, c.doc_old, count(*) AS i
         |  FROM cand c
         |  JOIN sh a ON a.doc_id = c.doc_new
         |  JOIN sh b ON b.doc_id = c.doc_old AND b.tok = a.tok
         |  GROUP BY c.doc_new, c.doc_old
         |)
         |SELECT c.doc_new, c.doc_old,
         |  round(CAST(coalesce(i.i, 0) AS DOUBLE)
         |        / (sa.n + sb.n - coalesce(i.i, 0)), 4) + 0.0 AS jaccard
         |FROM cand c
         |LEFT JOIN inter i ON i.doc_new = c.doc_new AND i.doc_old = c.doc_old
         |JOIN sizes sa ON sa.doc_id = c.doc_new
         |JOIN sizes sb ON sb.doc_id = c.doc_old
         |ORDER BY c.doc_new, c.doc_old""".stripMargin) { (s, dir) =>
      // DISTINCT-CONTENT COLLAPSE over the shared tables (r14, VERDICT
      // r13 item 6 — q87 was re-signaturing the full union every run
      // while textGroupsFor/repPairsFor already carry the corpus'
      // banding): signatures and band hashes are pure functions of the
      // trimmed text, so (a) a banded candidate between two docs
      // exists iff their GROUPS band — the materialized repPairsFor
      // edge set — or they share a group (≥ 2 members with a shingle
      // signature), and (b) every raw pair of a rep pair carries the
      // REP pair's exact jaccard (identical texts ⇒ identical shingle
      // sets), within-group pairs exactly 1.0. The signature pass thus
      // runs once per corpus (the shared tables), the verify kernel
      // once per banded GROUP pair, and the output is an arithmetic
      // expansion oriented by the is_new flag (a doc_id hash, so dup
      // groups split across new/old). Parity with the raw asymmetric
      // banding is pinned by `CollapseParitySpec` on the dup-heavy
      // fixture.
      val members = textGroupMembers(s, dir)
        .withColumn("is_new",
          gf.stableHash(col("vid").cast("string")) % 10000 < 1000)
      val news = members.filter(col("is_new"))
        .select(col("gid"), col("vid").as("doc_new"))
      val olds = members.filter(!col("is_new"))
        .select(col("gid"), col("vid").as("doc_old"))
      // One exact verify per banded rep pair (bucket-bounded list,
      // canonical sorted shingle sets off the distinct-text table).
      val toks = textGroupsFor(s, dir)
        .select(col("doc_id"),
          org.apache.spark.sql.graft.CatalystBridge.column(
            graft.plans.ShingleTokens(
              org.apache.spark.sql.graft.CatalystBridge.expr(col("txt")),
              3, dedupe = true, sorted = true)).as("toks"))
        .withColumn("n", size(col("toks")))
      val inter = org.apache.spark.sql.graft.CatalystBridge.column(
        graft.plans.SortedIntersectSize(
          org.apache.spark.sql.graft.CatalystBridge.expr(col("ta")),
          org.apache.spark.sql.graft.CatalystBridge.expr(col("tb"))))
      // r16 (VERDICT r15 item 4 — the residual was the verify kernel
      // running TWICE): the union's two orientations each re-executed
      // this whole subtree — 4 shingle tokenizes of the distinct-text
      // table, 20 graft_tgroups2 scans in the plan. The verified
      // rep-pair frame is skinny (gid, gid, double) and LSH-bounded,
      // so persist it once and let both orientations probe the cache.
      val repJ = graft.CacheRegistry.persistTracked(
        repPairsFor(s, dir)
          .join(toks.select(col("doc_id").as("doc_a"), col("toks").as("ta"),
            col("n").as("na")), "doc_a")
          .join(toks.select(col("doc_id").as("doc_b"), col("toks").as("tb"),
            col("n").as("nb")), "doc_b")
          .select(col("doc_a").as("ga"), col("doc_b").as("gb"),
            gf.roundz(inter.cast("double") / (col("na") + col("nb") - inter),
              4).as("jaccard")),
        graft.CacheRegistry.DataSized) // LSH-bounded candidate pairs
      // Cross-group expansion in BOTH orientations (the banded-pair
      // relation is symmetric; the new/old roles are not).
      val cross = repJ
        .join(news.withColumnRenamed("gid", "ga"), "ga")
        .join(olds.withColumnRenamed("gid", "gb"), "gb")
        .select(col("doc_new"), col("doc_old"), col("jaccard"))
        .union(repJ
          .join(news.withColumnRenamed("gid", "gb"), "gb")
          .join(olds.withColumnRenamed("gid", "ga"), "ga")
          .select(col("doc_new"), col("doc_old"), col("jaccard")))
      // Within-group: identical texts, jaccard exactly 1.0 — gated on
      // the group actually having a shingle signature (the sig
      // contract: < 3 tokens ⇒ no bands ⇒ no raw candidates).
      val withinG = members.filter(col("n") >= 2 && col("sig"))
      val within = withinG.filter(col("is_new"))
        .select(col("gid"), col("vid").as("doc_new"))
        .join(withinG.filter(!col("is_new"))
          .select(col("gid"), col("vid").as("doc_old")), "gid")
        .select(col("doc_new"), col("doc_old"), lit(1.0).as("jaccard"))
      // Persist before the contract ORDER BY: the sort's range-
      // partitioner sample pass would otherwise re-execute the
      // expansion (the q30 note) — the pair frame is output-sized, so
      // DISK_ONLY (streamed write, no unroll; see CacheRegistry).
      graft.CacheRegistry.persistTracked(
          cross.union(within),
          graft.CacheRegistry.OutputSized, // pair frame — can dwarf the input
          org.apache.spark.storage.StorageLevel.DISK_ONLY)
        .orderBy("doc_new", "doc_old")
    },

    // Bigram-LM perplexity scoring: each doc's mean negative log
    // P(w2|w1) under the corpus bigram LM (q86's model) — the
    // CCNet/KenLM-style model-based quality filter, here with the LM
    // estimated and applied in one job. Scale shape: the corpus is
    // tokenized ONCE — the shingle explode feeds a single aggregate at
    // the (doc_id, bigram) grain, and everything downstream (the LM's
    // c12/c1 counts AND the per-doc scoring) derives from that counted
    // frame, which is bounded by distinct-bigrams-per-doc, far below
    // raw bigram volume. The counted frame is PERSISTED (the q30
    // precedent): exchange reuse cannot cover the shingle CPU here —
    // the explode sits above the repartition exchange, and the LM
    // branch grows an inferred isnotnull(split_part(bigram)) filter
    // that breaks canonical subtree equality, so without the cache the
    // heaviest per-row work in the suite runs once per consumer
    // (PlanAuditSpec's q88 test pins the single-pass shape).
    // Verify/Bench clear caches between queries. Scoring is one
    // equi-join on the bigram key + one doc-keyed weighted aggregate:
    // avg over raw bigrams == sum(k·ln p)/sum(k) over counted rows,
    // and the oracle uses the identical weighted form so term grouping
    // matches. Every shuffle is key-partitioned, nothing all-pairs.
    QueryDef("q88_bigram_perplexity",
      """WITH docs AS (
        |  SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'),
        |         x -> x <> '') AS t
        |  FROM documents
        |), bg AS (
        |  SELECT doc_id, unnest(list_transform(generate_series(1, len(t) - 1),
        |    i -> t[i] || ' ' || t[i+1])) AS bigram
        |  FROM docs WHERE len(t) >= 2
        |), d AS (
        |  SELECT doc_id, bigram, count(*) AS k FROM bg GROUP BY 1, 2
        |), c12 AS (
        |  SELECT bigram, sum(k) AS cnt FROM d GROUP BY bigram
        |), c1 AS (
        |  SELECT split_part(bigram, ' ', 1) AS w1,
        |    CAST(sum(cnt) AS DOUBLE) AS c1
        |  FROM c12 GROUP BY 1
        |), lm AS (
        |  SELECT c12.bigram, c12.cnt / c1.c1 AS p
        |  FROM c12 JOIN c1 ON split_part(c12.bigram, ' ', 1) = c1.w1
        |)
        |SELECT d.doc_id, CAST(sum(d.k) AS BIGINT) AS n_bigrams,
        |  round(-CAST(sum(CAST(round(d.k * ln(lm.p) * 1000000.0, 0) AS BIGINT))
        |      AS DOUBLE) / 1000000.0 / sum(d.k), 6) + 0.0 AS avg_nll,
        |  round(exp(-CAST(sum(CAST(round(d.k * ln(lm.p) * 1000000.0, 0) AS BIGINT))
        |      AS DOUBLE) / 1000000.0 / sum(d.k)), 4) + 0.0 AS ppl
        |FROM d JOIN lm ON d.bigram = lm.bigram
        |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin) { (s, dir) =>
      // Bigram counts from the shared w1-bucketed table
      // ([[bigramCountsFor]] — (doc_id, bigram) is unique per row, so
      // no cross-half re-aggregation is needed): the LM aggregates
      // (w1,w2 / w1) and both scoring joins run shuffle-free off the
      // scan; only the final per-doc rollup shuffles.
      val d = bigramCountsFor(s, dir)
      val c12 = d.groupBy("w1", "w2").agg(sum("k").as("cnt"))
      val c1 = c12.groupBy("w1").agg(sum("cnt").cast("double").as("c1"))
      val lm = c12.join(c1, "w1")
        .select(col("w1"), col("w2"), (col("cnt") / col("c1")).as("p"))
      // Micro-long NLL terms (the q130 discipline, found live on
      // q154's cousin: DuckDB's own parallel fold over raw k·ln(p)
      // doubles flipped rounded outputs run-to-run at sf0.001): each
      // term quantizes ONCE to round(k·ln(p)·1e6) as an exact long,
      // so the per-doc sum is order-free in both engines and the only
      // doubles are the shared final expression.
      val tq = round(col("k").cast("double") * log(col("p"))
        * 1000000.0, 0).cast("long")
      val nllE = -sum(tq).cast("double") / 1000000.0 /
        sum(col("k").cast("double"))
      d.join(lm, Seq("w1", "w2"))
        .groupBy("doc_id")
        .agg(sum("k").as("n_bigrams"),
          gf.roundz(nllE, 6).as("avg_nll"),
          gf.roundz(exp(nllE), 4).as("ppl"))
        .orderBy("doc_id")
    },

    // Cross-source duplication matrix: LSH near-dup candidate pairs
    // rolled up to (source_a, source_b) counts — the audit that tells
    // a pipeline WHICH ingest feeds duplicate each other (mirrors
    // within one crawl, re-posts across crawls) before it decides
    // per-source survivorship. Reuses the shared signature/banding
    // pipeline (signatures computed once); the source lookup is a
    // skinny (doc_id, source) projection equi-joined onto the
    // bucket-bounded pair list — pair volume, not corpus volume, pays
    // the join; the matrix itself is ≤ sources² rows.
    QueryDef("q89_dup_matrix",
      s"""$lshPairsSql
         |SELECT least(da.source, db.source) AS source_a,
         |  greatest(da.source, db.source) AS source_b,
         |  count(*) AS n_pairs
         |FROM pairs p
         |JOIN documents da ON da.doc_id = p.doc_a
         |JOIN documents db ON db.doc_id = p.doc_b
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, dir) =>
      // Distinct-content collapse with per-group SOURCE HISTOGRAMS
      // (the q167 split-census pattern on the source axis): the pair
      // census never materializes the raw pair list — a cross group
      // pair contributes ca·cb per source pair, a dup group its
      // multinomial (ca·cb across sources, C(c,2) within one). All
      // counts exact integers; frames bounded by groups × sources.
      val gs = graft.CacheRegistry.persistTracked(
        Tables.documents(s, dir)
          .select(trim(col("text")).as("txt"), col("source"))
          .join(textGroupsFor(s, dir)
            .select(col("txt"), col("doc_id").as("gid"), col("sig")), "txt")
          .groupBy("gid", "source", "sig").agg(count(lit(1)).as("cnt")),
        graft.CacheRegistry.DataSized)
      val a = gs.select(col("gid").as("ga"), col("source").as("sa"),
        col("cnt").as("ca"))
      val b = gs.select(col("gid").as("gb"), col("source").as("sb"),
        col("cnt").as("cb"))
      val cross = repPairsFor(s, dir).select("doc_a", "doc_b")
        .withColumnRenamed("doc_a", "ga").withColumnRenamed("doc_b", "gb")
        .join(a, "ga").join(b, "gb")
        .select(least(col("sa"), col("sb")).as("source_a"),
          greatest(col("sa"), col("sb")).as("source_b"),
          (col("ca") * col("cb")).as("np"))
      // Within-group multinomials require the group to have a minhash
      // SIGNATURE (≥ 3 tokens) — a duplicated short text is not a raw
      // candidate clique (no shingles, no bands; the textGroupMembers
      // `sig` contract). Cross path needs no gate: repPairsFor groups
      // banded, hence signatured.
      val gsSig = gs.filter(col("sig"))
      val aw = gsSig.select(col("gid").as("ga"), col("source").as("sa"),
        col("cnt").as("ca"))
      val bw = gsSig.select(col("gid").as("gb"), col("source").as("sb"),
        col("cnt").as("cb"))
      val withinCross = aw.join(bw,
          col("ga") === col("gb") && col("sa") < col("sb"))
        .select(col("sa").as("source_a"), col("sb").as("source_b"),
          (col("ca") * col("cb")).as("np"))
      val withinSame = gsSig.filter(col("cnt") >= 2)
        .select(col("source").as("source_a"), col("source").as("source_b"),
          expr("(cnt * (cnt - 1)) div 2").as("np"))
      cross.union(withinCross).union(withinSame)
        .groupBy("source_a", "source_b")
        .agg(sum("np").as("n_pairs"))
        .orderBy("source_a", "source_b")
    },

    // Gopher-style quality-rule census: the published rule bundle
    // (doc length band, mean-word-length band, minimum stopword
    // evidence, repetition via distinct-token ratio) evaluated per doc
    // and rolled up per source — the calibration view a pipeline reads
    // before committing to thresholds. All four rules are per-row
    // array arithmetic over ONE tokenization (no shuffle before the
    // source rollup); mean word length is computed as
    // sum(len)/count in BOTH engines so the band compare is
    // bit-identical at the boundary.
    QueryDef("q90_gopher_rules",
      """WITH t AS (
        |  SELECT source, list_filter(string_split_regex(trim(text), '\s+'),
        |         x -> x <> '') AS t
        |  FROM documents
        |), r AS (
        |  SELECT source,
        |    CASE WHEN len(t) BETWEEN 30 AND 10000 THEN 1 ELSE 0 END AS r_len,
        |    CASE WHEN CAST(list_sum(list_transform(t, x -> len(x))) AS DOUBLE)
        |              / len(t) BETWEEN 3.9 AND 5.1 THEN 1 ELSE 0 END AS r_wordlen,
        |    CASE WHEN len(list_filter(t, x -> x IN ('the', 'a'))) >= 2
        |         THEN 1 ELSE 0 END AS r_stop,
        |    CASE WHEN CAST(len(list_distinct(t)) AS DOUBLE) / len(t) >= 0.5
        |         THEN 1 ELSE 0 END AS r_rep
        |  FROM t
        |)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(r_len) AS BIGINT) AS pass_len,
        |  CAST(sum(r_wordlen) AS BIGINT) AS pass_wordlen,
        |  CAST(sum(r_stop) AS BIGINT) AS pass_stop,
        |  CAST(sum(r_rep) AS BIGINT) AS pass_rep,
        |  CAST(sum(r_len * r_wordlen * r_stop * r_rep) AS BIGINT) AS pass_all
        |FROM r GROUP BY source ORDER BY source""".stripMargin) { (s, dir) =>
      val t = col("t")
      val rLen = when(size(t).between(30, 10000), 1L).otherwise(0L)
      val meanWl = aggregate(t, lit(0L), (acc, x) => acc + length(x))
        .cast("double") / size(t)
      val rWordlen = when(meanWl.between(3.9, 5.1), 1L).otherwise(0L)
      val rStop = when(gf.countIn(t, Seq("the", "a")) >= 2, 1L)
        .otherwise(0L)
      val rRep = when(
        size(array_distinct(t)).cast("double") / size(t) >= 0.5, 1L)
        .otherwise(0L)
      Tables.documents(s, dir)
        .fanOutScan(col("doc_id")) // scale-aware scan fan-out
        .select(col("source"), gf.tokens(col("text")).as("t"))
        .select(col("source"), rLen.as("r_len"), rWordlen.as("r_wordlen"),
          rStop.as("r_stop"), rRep.as("r_rep"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum("r_len").as("pass_len"),
          sum("r_wordlen").as("pass_wordlen"),
          sum("r_stop").as("pass_stop"),
          sum("r_rep").as("pass_rep"),
          sum(col("r_len") * col("r_wordlen") * col("r_stop") * col("r_rep"))
            .as("pass_all"))
        .orderBy("source")
    },

    // n-gram diversity per source: distinct-trigram / total-trigram
    // ratio — the self-repetition metric (inverse Self-BLEU proxy)
    // that flags template-generated or boilerplate-heavy feeds before
    // they flood the mix. One explode + one source-keyed aggregate;
    // the exact count(DISTINCT) shuffles distinct trigrams (the exact
    // path — its fixed-state HLL twin is the q70 pattern,
    // `cardinalityProfileApprox`).
    QueryDef("q91_ngram_diversity",
      """WITH tg AS (
        |  SELECT source, unnest(list_transform(
        |    generate_series(1, len(t) - 2),
        |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS tok
        |  FROM (SELECT source, list_filter(
        |          string_split_regex(trim(text), '\s+'), x -> x <> '') AS t
        |        FROM documents)
        |)
        |SELECT source, count(*) AS n_trigrams,
        |  count(DISTINCT tok) AS n_distinct,
        |  round(CAST(count(DISTINCT tok) AS DOUBLE) / count(*), 6) + 0.0 AS diversity
        |FROM tg GROUP BY source ORDER BY source""".stripMargin) { (s, dir) =>
      val tg = Tables.documents(s, dir)
        .fanOutScan(col("doc_id"))
        .select(col("source"),
          explode(org.apache.spark.sql.graft.CatalystBridge.column(
            graft.plans.ShingleTokens(
              org.apache.spark.sql.graft.CatalystBridge.expr(trim(col("text"))),
              3, dedupe = false))).as("tok"))
      tg.groupBy("source")
        .agg(count(lit(1)).as("n_trigrams"),
          countDistinct(col("tok")).as("n_distinct"),
          gf.roundz(countDistinct(col("tok")).cast("double") / count(lit(1)), 6)
            .as("diversity"))
        .orderBy("source")
    },

    // Per-doc token-distribution Shannon entropy: −Σ p·ln p over the
    // doc's unigram distribution — low entropy = degenerate/repetitive
    // text, a quality gate orthogonal to length and stopword rules.
    // Two key-partitioned aggregates ((doc, tok) counts, then doc
    // rollup) — partial aggregation upstream of both shuffles, state
    // bounded by per-doc distinct tokens.
    QueryDef("q92_token_entropy",
      """WITH c AS (
        |  SELECT doc_id, tok, count(*) AS c FROM (
        |    SELECT doc_id, unnest(list_filter(
        |      string_split_regex(trim(text), '\s+'), x -> x <> '')) AS tok
        |    FROM documents) GROUP BY doc_id, tok
        |), n AS (
        |  SELECT doc_id, CAST(sum(c) AS DOUBLE) AS n,
        |    count(*) AS n_distinct
        |  FROM c GROUP BY doc_id
        |)
        |SELECT c.doc_id, CAST(n.n AS BIGINT) AS n_tokens, n.n_distinct,
        |  round(-sum((c.c / n.n) * ln(c.c / n.n)), 6) + 0.0 AS entropy
        |FROM c JOIN n ON c.doc_id = n.doc_id
        |GROUP BY c.doc_id, n.n, n.n_distinct ORDER BY c.doc_id""".stripMargin) { (s, dir) =>
      // The (doc, token, count) frame IS the shared tf backbone (r15)
      // — identical integers, renamed columns.
      val c = tfFor(s, dir)
        .select(col("doc_id"), col("term").as("tok"), col("tf").as("c"))
      val n = c.groupBy("doc_id")
        .agg(sum("c").cast("double").as("n"), count(lit(1)).as("n_distinct"))
      val p = col("c") / col("n")
      c.join(n, "doc_id")
        .groupBy(col("doc_id"), col("n"), col("n_distinct"))
        .agg(gf.roundz(-sum(p * log(p)), 6).as("entropy"))
        .select(col("doc_id"), col("n").cast("long").as("n_tokens"),
          col("n_distinct"), col("entropy"))
        .orderBy("doc_id")
    },

    // Exact-duplicate rate per source: how much of each feed is
    // byte-identical content already present elsewhere in the corpus
    // — the census a pipeline reads before deciding which feeds to
    // keep crawling. Global text-hash counts (one md5-keyed
    // aggregate), joined back by hash (skinny side), rolled up per
    // source — q27's machinery turned into a monitoring view.
    QueryDef("q95_dup_rate_by_source",
      """WITH h AS (
        |  SELECT md5(text) AS h, count(*) AS cnt FROM documents GROUP BY 1
        |)
        |SELECT d.source, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN h.cnt > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_dup_docs,
        |  round(CAST(sum(CASE WHEN h.cnt > 1 THEN 1 ELSE 0 END) AS DOUBLE)
        |        / count(*), 6) + 0.0 AS dup_rate
        |FROM documents d JOIN h ON md5(d.text) = h.h
        |GROUP BY d.source ORDER BY d.source""".stripMargin) { (s, dir) =>
      // explode(array(...)) Generate barrier (r16): the h-join infers
      // isnotnull(h) on both sides, which would otherwise inline
      // md5(text) into pushed scan filters and hash every doc twice
      // per side (§4.4 duplication).
      val docs = Tables.documents(s, dir)
        .select(col("source"), explode(array(md5(col("text")))).as("h"))
      val h = docs.groupBy("h").agg(count(lit(1)).as("cnt"))
      val isDup = when(col("cnt") > 1, 1L).otherwise(0L)
      docs.join(h, "h")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(isDup).as("n_dup_docs"),
          gf.roundz(sum(isDup).cast("double") / count(lit(1)), 6).as("dup_rate"))
        .orderBy("source")
    },

    // Contamination overlap fraction: q62 counts shared eval
    // 5-shingles for docs that have any; this is the full census — for
    // EVERY non-benchmark doc, the fraction of its distinct 5-shingles
    // present in the benchmark source, zero-overlap docs included
    // (left join), plus the threshold flag a pipeline would gate on.
    // The continuous signal matters at scale: a hard any-overlap drop
    // (q62's shape) over-rejects long documents that share one common
    // phrase; the fraction lets the gate be calibrated. The benchmark
    // side here is src0 — one of the CORPUS sources, not a bounded
    // eval table — so it carries NO broadcast hint (the round-6
    // unbounded-broadcast rule): AQE broadcasts it at runtime while
    // it measures small and degrades to a shuffle join when it
    // doesn't. Per-doc totals and shared counts are doc-keyed
    // aggregates.
    QueryDef("q94_contamination_frac",
      """WITH sh AS (
        |  SELECT DISTINCT doc_id, source, tok FROM (
        |    SELECT doc_id, source, unnest(list_transform(
        |      generate_series(1, len(t) - 4),
        |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4])) AS tok
        |    FROM (SELECT doc_id, source,
        |            list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS t
        |          FROM documents)
        |  )
        |), bench AS (SELECT DISTINCT tok FROM sh WHERE source = 'src0'),
        |tot AS (
        |  SELECT doc_id, count(*) AS n_sh FROM sh
        |  WHERE source <> 'src0' GROUP BY doc_id
        |), shared AS (
        |  SELECT s.doc_id, count(*) AS n_shared
        |  FROM sh s JOIN bench b ON s.tok = b.tok
        |  WHERE s.source <> 'src0' GROUP BY s.doc_id
        |)
        |SELECT t.doc_id, t.n_sh,
        |  CAST(coalesce(sh2.n_shared, 0) AS BIGINT) AS n_shared,
        |  round(CAST(coalesce(sh2.n_shared, 0) AS DOUBLE) / t.n_sh, 6) + 0.0 AS overlap,
        |  CAST(CASE WHEN CAST(coalesce(sh2.n_shared, 0) AS DOUBLE) / t.n_sh
        |       >= 0.01 THEN 1 ELSE 0 END AS BIGINT) AS contaminated
        |FROM tot t LEFT JOIN shared sh2 ON t.doc_id = sh2.doc_id
        |ORDER BY t.doc_id""".stripMargin) { (s, dir) =>
      def sh5(c: Column): Column =
        org.apache.spark.sql.graft.CatalystBridge.column(
          graft.plans.ShingleTokens(
            org.apache.spark.sql.graft.CatalystBridge.expr(trim(c)), 5))
      val sh = Tables.documents(s, dir)
        .fanOutScan(col("doc_id")) // scale-adaptive scan fan-out (r16)
        .select(col("doc_id"), col("source"),
          explode(sh5(col("text"))).as("tok"))
      val bench = sh.filter(col("source") === "src0").select("tok").distinct()
      // r16: ONE pass over the corpus-side shingle stream — the old
      // shape exploded it twice (total census + bench-join census) and
      // left-joined the two per-doc frames. bench is distinct on tok,
      // so a left join preserves row count: n_sh = count(*),
      // n_shared = count(hit) — the same exact integers, one explode
      // + one doc-keyed aggregate instead of two of each.
      val rest = sh.filter(col("source") =!= "src0")
      val nShared = col("n_shared")
      val overlap = nShared.cast("double") / col("n_sh")
      rest.join(broadcast(bench.withColumn("__hit", lit(1))), Seq("tok"),
          "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_sh"), count(col("__hit")).as("n_shared"))
        .select(col("doc_id"), col("n_sh"),
          nShared.as("n_shared"),
          gf.roundz(overlap, 6).as("overlap"),
          when(overlap >= 0.01, 1L).otherwise(0L).as("contaminated"))
        .orderBy("doc_id")
    },

    // Lexical-richness profile per source: type-token ratio and hapax
    // fraction (types seen exactly once) — the vocabulary-health
    // signals that catch template-generated feeds (low TTR) and
    // OCR/noise feeds (hapax explosion) before either pollutes a
    // tokenizer's merge table. One (source, tok) aggregate with
    // partial aggregation, then a source rollup over DISTINCT-type
    // volume — never a second corpus scan.
    QueryDef("q96_lexical_richness",
      """WITH c AS (
        |  SELECT source, tok, count(*) AS cnt FROM (
        |    SELECT source, unnest(list_filter(
        |      string_split_regex(trim(text), '\s+'), x -> x <> '')) AS tok
        |    FROM documents) GROUP BY source, tok
        |)
        |SELECT source, CAST(sum(cnt) AS BIGINT) AS n_tokens,
        |  count(*) AS n_types,
        |  round(CAST(count(*) AS DOUBLE) / sum(cnt), 6) + 0.0 AS ttr,
        |  round(CAST(sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS DOUBLE)
        |        / count(*), 6) + 0.0 AS hapax_frac
        |FROM c GROUP BY source ORDER BY source""".stripMargin) { (s, dir) =>
      val c = tokensBySource(s, dir)
        .groupBy("source", "tok").agg(count(lit(1)).as("cnt"))
      c.groupBy("source")
        .agg(sum("cnt").as("n_tokens"),
          count(lit(1)).as("n_types"),
          gf.roundz(count(lit(1)).cast("double") / sum("cnt"), 6).as("ttr"),
          gf.roundz(sum(when(col("cnt") === 1, 1L).otherwise(0L)).cast("double")
            / count(lit(1)), 6).as("hapax_frac"))
        .orderBy("source")
    },

    // Exact-dup cluster-size histogram: how many duplicate clusters of
    // each size the corpus carries — the census that sizes a dedup
    // pass (expected row reduction = Σ (size-1)·n_clusters) before
    // running it. Two bounded aggregates over hash volume; the
    // histogram itself is ≤ max-cluster-size rows.
    QueryDef("q98_dup_histogram",
      """WITH h AS (
        |  SELECT md5(text) AS h, count(*) AS sz FROM documents GROUP BY 1
        |)
        |SELECT sz AS cluster_size, count(*) AS n_clusters,
        |  CAST(sz * count(*) AS BIGINT) AS n_docs
        |FROM h GROUP BY sz ORDER BY sz""".stripMargin) { (s, dir) =>
      Tables.documents(s, dir)
        .groupBy(md5(col("text")).as("h"))
        .agg(count(lit(1)).as("sz"))
        .groupBy(col("sz").as("cluster_size"))
        .agg(count(lit(1)).as("n_clusters"))
        .select(col("cluster_size"), col("n_clusters"),
          (col("cluster_size") * col("n_clusters")).as("n_docs"))
        .orderBy("cluster_size")
    },

    // Log2-bucketed token-length histogram per source: the coarse
    // length-distribution signature used for drift monitoring between
    // crawls (a shifted histogram flags a feed change long before the
    // exact percentiles of q63/q85 are recomputed). Per-row arithmetic
    // into a bounded (source × ~log2(maxlen)) output; floor(log2(n))
    // is exact in IEEE for the integer inputs both engines see.
    QueryDef("q99_length_histogram",
      """SELECT source,
        |  CAST(floor(log2(n)) AS BIGINT) AS bucket,
        |  count(*) AS n_docs,
        |  CAST(min(n) AS BIGINT) AS min_len, CAST(max(n) AS BIGINT) AS max_len
        |FROM (SELECT source, len(list_filter(
        |        string_split_regex(trim(text), '\s+'), x -> x <> '')) AS n
        |      FROM documents)
        |WHERE n > 0
        |GROUP BY source, bucket ORDER BY source, bucket""".stripMargin) { (s, dir) =>
      // r16: token counts from the tf backbone (Σ tf ≡ the fresh
      // tokenize — see q105); the per-doc length frame is a
      // bucket-local aggregate over the skinny (doc_id, source, tf)
      // scan, no text read. The n > 0 gate is automatic: token-free
      // docs have no tf rows. All outputs are exact integers, so the
      // swap is bit-safe.
      tfFor(s, dir)
        .groupBy("doc_id", "source").agg(sum("tf").as("n"))
        .groupBy(col("source"), floor(log2(col("n"))).cast("long").as("bucket"))
        .agg(count(lit(1)).as("n_docs"),
          min("n").cast("long").as("min_len"),
          max("n").cast("long").as("max_len"))
        .orderBy("source", "bucket")
    },

    // T145 — length-distribution SHAPE census: per source, Pearson
    // moment skewness and excess kurtosis of doc token counts — the
    // two numbers that catch what mean/stddev (q63) and histograms
    // (q99) summarize away: a scrape that truncates at a size cap
    // shows negative skew, a feed contaminated with concatenated
    // pages shows kurtosis blowing up, both BEFORE the mean moves.
    // NEW determinism pattern — DECIMAL-128 exact higher moments:
    // Σn³/Σn⁴ of integer lengths overflow a LONG once docs pass ~55 k
    // tokens (1e5⁴ = 1e20), so the engine accumulates decimal(38,0)
    // sums (Spark's 128-bit decimal; scale 0 ⇒ pure integer
    // arithmetic, loss only past 1e38) and DuckDB mirrors with native
    // HUGEINT — the moments are EXACT INTEGERS in both engines at any
    // layout, and the only doubles are one shared final expression
    // (v·sqrt(v) for the 1.5 power — never libm pow). Zero-variance
    // sources gate on v <= 0 → NULL identically (v is the same IEEE
    // double both sides). Shape: one scan, one (source)-keyed
    // aggregate, (sources)-bounded output.
    QueryDef("q165_shape_census",
      """WITH d AS (
        |  SELECT source,
        |    CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
        |        x -> x <> '')) AS HUGEINT) AS n
        |  FROM documents
        |), mo AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |    sum(n) AS s1, sum(n * n) AS s2,
        |    sum(n * n * n) AS s3, sum(n * n * n * n) AS s4
        |  FROM d GROUP BY source
        |), ex AS (
        |  SELECT source, n_docs,
        |    CAST(s1 AS DOUBLE) / n_docs AS m1,
        |    CAST(s2 AS DOUBLE) / n_docs AS m2,
        |    CAST(s3 AS DOUBLE) / n_docs AS m3,
        |    CAST(s4 AS DOUBLE) / n_docs AS m4
        |  FROM mo
        |), v AS (
        |  SELECT source, n_docs, m1, m2, m3, m4, m2 - m1 * m1 AS var_p
        |  FROM ex
        |)
        |SELECT source, n_docs, round(m1, 6) + 0.0 AS mean_len,
        |  round(CASE WHEN var_p <= 0 THEN NULL
        |    ELSE (m3 - 3.0 * m1 * m2 + 2.0 * m1 * m1 * m1)
        |      / (var_p * sqrt(var_p)) END, 6) + 0.0 AS skewness,
        |  round(CASE WHEN var_p <= 0 THEN NULL
        |    ELSE (m4 - 4.0 * m1 * m3 + 6.0 * (m1 * m1) * m2
        |          - 3.0 * (m1 * m1 * m1 * m1)) / (var_p * var_p) - 3.0
        |    END, 6) + 0.0 AS kurtosis
        |FROM v ORDER BY source""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.types.DecimalType
      val n = size(gf.tokens(col("text"))).cast(DecimalType(19, 0))
      val d = Tables.documents(s, dir)
        .select(col("source"), n.as("n"))
        .withColumn("n2", col("n") * col("n"))
        .withColumn("n3", col("n2") * col("n"))
        .withColumn("n4", col("n3") * col("n"))
      val mo = d.groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("n").as("s1"),
          sum("n2").as("s2"), sum("n3").as("s3"), sum("n4").as("s4"))
      val ex = mo.select(col("source"), col("n_docs"),
        (col("s1").cast("double") / col("n_docs")).as("m1"),
        (col("s2").cast("double") / col("n_docs")).as("m2"),
        (col("s3").cast("double") / col("n_docs")).as("m3"),
        (col("s4").cast("double") / col("n_docs")).as("m4"))
      val v = ex.withColumn("var_p", col("m2") - col("m1") * col("m1"))
      v.select(col("source"), col("n_docs"),
          gf.roundz(col("m1"), 6).as("mean_len"),
          gf.roundz(when(col("var_p") <= 0, lit(null))
            .otherwise((col("m3") - lit(3.0) * col("m1") * col("m2")
                + lit(2.0) * col("m1") * col("m1") * col("m1"))
              / (col("var_p") * sqrt(col("var_p")))), 6).as("skewness"),
          gf.roundz(when(col("var_p") <= 0, lit(null))
            .otherwise((col("m4") - lit(4.0) * col("m1") * col("m3")
                + lit(6.0) * (col("m1") * col("m1")) * col("m2")
                - lit(3.0) * (col("m1") * col("m1") * col("m1") * col("m1")))
              / (col("var_p") * col("var_p")) - lit(3.0)), 6).as("kurtosis"))
        .orderBy("source")
    },

    // Clean-corpus savings audit: what the q50 cleanup actually buys,
    // per source — docs and bytes kept vs dropped. The per-source view
    // is what decides whether a feed is worth its ingest cost.
    // Composes the same survivor set as q50 (quality gate → exact
    // dedup → greedy LSH near-dup drop), then one broadcast-friendly
    // semi/anti pattern: a skinny survivor-id frame joined back onto
    // the full corpus, rolled up by source.
    QueryDef("q100_clean_savings",
      s"""WITH sh AS (
         |  $shingleSql
         |), hashed AS (
         |  $shingleHashSql
         |), sig AS (
         |  SELECT doc_id, $minhashSqlAggs FROM hashed GROUP BY doc_id
         |), bands AS (
         |  ${(0 until Bands).map(b =>
              s"SELECT doc_id, $b AS band_idx, ${bandSql(b)} AS band_hash FROM sig")
              .mkString("\n  UNION ALL\n  ")}
         |), losers AS (
         |  SELECT DISTINCT b.doc_id FROM bands a JOIN bands b
         |    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
         |    AND a.doc_id < b.doc_id
         |), quality AS (
         |  SELECT doc_id, text FROM (
         |    SELECT doc_id, text,
         |      list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS t
         |    FROM documents)
         |  WHERE len(t) >= 30
         |    AND CAST(len(list_filter(t, x -> x IN ('the', 'a'))) AS DOUBLE) / len(t) < 0.15
         |), exact AS (
         |  SELECT min(doc_id) AS doc_id FROM quality GROUP BY md5(text)
         |), survivors AS (
         |  SELECT e.doc_id FROM exact e
         |  WHERE e.doc_id NOT IN (SELECT doc_id FROM losers)
         |)
         |SELECT d.source,
         |  count(*) AS n_docs,
         |  CAST(sum(CASE WHEN s.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |  CAST(sum(CASE WHEN s.doc_id IS NOT NULL THEN d.n_chars ELSE 0 END) AS BIGINT) AS bytes_kept,
         |  CAST(sum(CASE WHEN s.doc_id IS NULL THEN d.n_chars ELSE 0 END) AS BIGINT) AS bytes_dropped
         |FROM documents d LEFT JOIN survivors s ON d.doc_id = s.doc_id
         |GROUP BY d.source ORDER BY d.source""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      // r16: id-only survivor set (see q50) — one corpus pass.
      val survivors = graft.operators.Dedup.cleanCorpusSurvivorIds(
        docs.fanOutScan(col("doc_id")), lshLoserDocs(s, dir))
      // NO broadcast hint: the survivor set is corpus-sized (most docs
      // survive a healthy cleanup) — this is a skinny 1-column
      // shuffle join on the id, not a broadcastable dim.
      val kept = when(col("s_id").isNotNull, 1L).otherwise(0L)
      docs.join(survivors.withColumnRenamed("doc_id", "s_id"),
          col("doc_id") === col("s_id"), "left")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(kept).as("n_kept"),
          sum(when(col("s_id").isNotNull, col("n_chars")).otherwise(0L))
            .as("bytes_kept"),
          sum(when(col("s_id").isNull, col("n_chars")).otherwise(0L))
            .as("bytes_dropped"))
        .orderBy("source")
    },

    // Decile stratification of corpus length per source (T70): NTILE
    // splits each source's docs into 10 equal-height bands over the
    // (n_chars, doc_id) total order, then reports each band's row
    // count and char range — the quality-stratified sampling frame a
    // curriculum or mix designer reads before carving (pairs with the
    // quota carves q107/q108: those consume a per-stratum ORDER, this
    // publishes the strata themselves). NTILE is deterministic here
    // because the order is total (doc_id tiebreak); both engines
    // follow the SQL-standard "first buckets get the extra row" rule.
    // Scale note: one shuffle on source, per-source spill-capable
    // external sort, bounded 10-row-per-source output — linear.
    QueryDef("q112_ntile_deciles",
      """SELECT source, decile, count(*) AS cnt,
        |  min(n_chars) AS min_chars, max(n_chars) AS max_chars
        |FROM (
        |  SELECT source, n_chars,
        |    CAST(ntile(10) OVER (PARTITION BY source
        |      ORDER BY n_chars, doc_id) AS BIGINT) AS decile
        |  FROM documents
        |)
        |GROUP BY source, decile ORDER BY source, decile""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy("source").orderBy("n_chars", "doc_id")
      Tables.documents(s, dir)
        .select(col("source"), col("n_chars"),
          ntile(10).over(w).cast("long").as("decile"))
        .groupBy("source", "decile")
        .agg(count(lit(1)).as("cnt"),
          min("n_chars").as("min_chars"), max("n_chars").as("max_chars"))
        .orderBy("source", "decile")
    },

    // TextRank keyword extraction (T78 — Mihalcea & Tarau 2004):
    // weighted PageRank over the corpus bigram transition graph
    // (nodes = tokens, edge u→v weighted by count of bigram "u v"),
    // damping 0.85, three fixed power iterations from rank 1.0, top 25
    // tokens. The graph reuses q86's ShingleTokens bigram stream; each
    // iteration is one token-keyed join + hash aggregate.
    // Determinism: per-iteration ranks round to 9 decimals in BOTH
    // engines (contribution sums are float additions in engine-specific
    // order; 1e-9 granularity absorbs the 1e-15-relative drift), final
    // ranks to 6.
    // Scale note: the transition table is data-bounded (distinct
    // bigrams) and persisted ONCE (DataSized); rank state is one row
    // per vocab token. Iterations shuffle on the token key every time —
    // the inherent PageRank cost — but nothing here is ever
    // corpus-sized: after the first aggregate all frames are
    // vocab-bounded. Fixed iteration count keeps the plan static (no
    // driver-side convergence loop reading results back).
    QueryDef("q121_textrank", {
      def contribCte(k: Int) =
        s"""c$k AS (
           |  SELECT m.dst, sum(m.p * r.rank) AS c
           |  FROM norm m JOIN r${k - 1} r ON r.token = m.src GROUP BY m.dst
           |), r$k AS (
           |  SELECT n.token, round(0.15 + 0.85 * coalesce(c.c, 0), 9) + 0.0 AS rank
           |  FROM nodes n LEFT JOIN c$k c ON c.dst = n.token
           |)"""
      s"""WITH docs AS (
         |  SELECT list_filter(string_split_regex(trim(text), '\\s+'),
         |         x -> x <> '') AS t
         |  FROM documents
         |), bg AS (
         |  SELECT unnest(list_transform(generate_series(1, len(t) - 1),
         |    i -> t[i] || ' ' || t[i+1])) AS bigram
         |  FROM docs WHERE len(t) >= 2
         |), edges AS (
         |  SELECT split_part(bigram, ' ', 1) AS src,
         |    split_part(bigram, ' ', 2) AS dst,
         |    CAST(count(*) AS DOUBLE) AS w
         |  FROM bg GROUP BY 1, 2
         |), outw AS (SELECT src, sum(w) AS ow FROM edges GROUP BY src),
         |norm AS (
         |  SELECT e.src, e.dst, e.w / o.ow AS p FROM edges e
         |  JOIN outw o USING (src)
         |), nodes AS (
         |  SELECT src AS token FROM edges UNION SELECT dst FROM edges
         |), r0 AS (SELECT token, 1.0 AS rank FROM nodes),
         |${contribCte(1)},
         |${contribCte(2)},
         |${contribCte(3)}
         |SELECT token, round(rank, 6) + 0.0 AS rank FROM r3
         |ORDER BY rank DESC, token LIMIT 25""".stripMargin
    }) { (s, dir) =>
      // Edges from the shared per-doc bigram table (r15): Σ k over
      // docs/halves is the same integer the fresh corpus shingle
      // counted (same ShingleTokens(·, 2) tokenization), so the
      // double-cast edge weights are bit-identical — and the corpus
      // text pass disappears from the per-run cost.
      val edges = bigramCountsFor(s, dir)
        .groupBy(col("w1").as("src"), col("w2").as("dst"))
        .agg(sum("k").cast("double").as("w"))
      val outw = edges.groupBy("src").agg(sum("w").as("ow"))
      val norm = graft.CacheRegistry.persistTracked(
        edges.join(outw, "src")
          .select(col("src"), col("dst"), (col("w") / col("ow")).as("p")),
        graft.CacheRegistry.DataSized) // ≤ one row per distinct bigram
      val nodes = graft.CacheRegistry.persistTracked(
        norm.select(col("src").as("token"))
          .union(norm.select(col("dst").as("token"))).distinct(),
        graft.CacheRegistry.DataSized) // ≤ one row per vocab token
      var r = nodes.withColumn("rank", lit(1.0))
      (1 to 3).foreach { _ =>
        val contrib = norm
          .join(r.withColumnRenamed("token", "src"), "src")
          .groupBy("dst").agg(sum(col("p") * col("rank")).as("c"))
        r = nodes
          .join(contrib.withColumnRenamed("dst", "token"), Seq("token"), "left")
          .select(col("token"),
            gf.roundz(lit(0.15) + lit(0.85) * coalesce(col("c"), lit(0.0)), 9)
              .as("rank"))
      }
      r.select(col("token"), gf.roundz(col("rank"), 6).as("rank"))
        .orderBy(desc("rank"), asc("token")).limit(25)
    },

    // T96 — blocklist phrase census via the byte-level Aho–Corasick
    // scan (plans/PhraseScan): which blocklist phrases occur in which
    // feeds, per-source doc counts. q25/q72's unrolled Contains chain
    // re-reads every document once PER TERM — fine for a dozen
    // vocabulary words, O(len·phrases) for the 10⁴-entry blocklists
    // policy scrubbing actually ships. The automaton scans each doc's
    // bytes ONCE for all phrases (goto+fail collapsed to a dense DFA,
    // shipped to generated code as a codegen reference — built once
    // per executor). The oracle IS the naive shape: a contains() theta
    // join of documents × phrases. Output is (source × phrases)-
    // bounded; nothing shuffles but the hit ids.
    QueryDef("q131_blocklist_census", {
      val vals = BlockPhrases.map(p => s"('${p}')").mkString(", ")
      s"""WITH p AS (SELECT * FROM (VALUES $vals) AS t(phrase))
         |SELECT d.source, p.phrase, count(*) AS n_docs
         |FROM documents d JOIN p ON contains(d.text, p.phrase)
         |GROUP BY d.source, p.phrase
         |ORDER BY source, phrase""".stripMargin
    }) { (s, dir) =>
      val phraseLit = array(BlockPhrases.map(lit): _*)
      Tables.documents(s, dir)
        .select(col("source"),
          explode(org.apache.spark.sql.graft.CatalystBridge.column(
            graft.plans.PhraseScan(
              org.apache.spark.sql.graft.CatalystBridge.expr(col("text")),
              BlockPhrases))).as("pid"))
        .select(col("source"),
          element_at(phraseLit, col("pid") + 1).as("phrase"))
        .groupBy("source", "phrase")
        .agg(count(lit(1)).as("n_docs"))
        .orderBy("source", "phrase")
    },

    // T101 — passage-level exact dedup WITH document reconstruction
    // (the C4/RefinedWeb line-dedup shape): docs split into
    // non-overlapping 16-token blocks, every distinct block retained
    // only at its FIRST corpus occurrence (smallest (doc_id, blk)),
    // surviving blocks reassembled per home document. q77/q78 DETECT
    // repeated passages; this op REMOVES them and emits the rebuilt
    // corpus census — the step that actually shrinks a training set.
    // Shape: one scan → per-row blockify (transform + slice, zero
    // shuffle) → posexplode → ONE content-keyed aggregate (min /
    // min_by — map-side combinable, never a corpus-wide window) → ONE
    // doc-keyed aggregate over the distinct-block-bounded winner set.
    // First-occurrence ties are impossible: the packed
    // doc_id·2³² + blk key is unique — a collision needs a single doc
    // with ≥ 2³² blocks (≈ 68 billion tokens, beyond any document),
    // and doc_id ≤ ~10⁸ even in the replica-offset scale dirs keeps
    // the packed key below 2⁶³. The reconstructed text is
    // witnessed by an md5 over the blk-ordered join, so the oracle
    // checks BYTES of the rebuilt docs, not just counts.
    QueryDef("q134_passage_dedup",
      """WITH docs AS (
        |  SELECT doc_id, list_filter(
        |    string_split_regex(trim(text), '\s+'), x -> x <> '') AS toks
        |  FROM documents
        |), nz AS (
        |  SELECT doc_id, toks, len(toks) AS n FROM docs WHERE len(toks) > 0
        |), blocks AS (
        |  SELECT doc_id, CAST(ceil(n / 16.0) AS BIGINT) AS nb, i AS blk,
        |    array_to_string(list_slice(toks,
        |      CAST(i * 16 + 1 AS BIGINT), CAST(i * 16 + 16 AS BIGINT)), ' ')
        |      AS block_text,
        |    len(list_slice(toks, CAST(i * 16 + 1 AS BIGINT),
        |      CAST(i * 16 + 16 AS BIGINT))) AS blk_len
        |  FROM (SELECT doc_id, toks, n,
        |          unnest(range(0, CAST(ceil(n / 16.0) AS BIGINT))) AS i
        |        FROM nz)
        |), winners AS (
        |  SELECT block_text,
        |    min(doc_id * 4294967296 + blk) AS word,
        |    arg_min(nb, doc_id * 4294967296 + blk) AS nb,
        |    arg_min(blk_len, doc_id * 4294967296 + blk) AS blk_len
        |  FROM blocks GROUP BY block_text
        |)
        |SELECT CAST(word // 4294967296 AS BIGINT) AS doc_id,
        |  nb AS n_blocks, count(*) AS kept_blocks,
        |  CAST(sum(blk_len) AS BIGINT) AS retained_tokens,
        |  md5(string_agg(block_text, ' ' ORDER BY word % 4294967296))
        |    AS retained_md5
        |FROM winners GROUP BY 1, 2 ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val k = 16
      Tables.documents(s, dir)
        .fanOutScan(col("doc_id")) // scale-aware scan fan-out
        // rlike('\\S') is exactly tokens-nonempty (the q30/q69 note)
        .filter(col("text").rlike("\\S"))
        .select(col("doc_id"), gf.tokens(col("text")).as("toks"))
        .withColumn("nb",
          ceil(size(col("toks")) / lit(k.toDouble)).cast("long"))
        .select(col("doc_id"), col("nb"),
          posexplode(transform(sequence(lit(0L), col("nb") - 1),
            i => slice(col("toks"), (i * k + 1).cast("int"), lit(k)))))
        .select(col("doc_id"), col("nb"), col("pos").cast("long").as("blk"),
          array_join(col("col"), " ").as("block_text"),
          size(col("col")).cast("long").as("blk_len"))
        .withColumn("ord", col("doc_id") * lit(4294967296L) + col("blk"))
        .groupBy("block_text")
        .agg(min("ord").as("word"),
          min_by(col("nb"), col("ord")).as("nb"),
          min_by(col("blk_len"), col("ord")).as("blk_len"))
        .select(expr("word div 4294967296").as("doc_id"), col("nb"),
          (col("word") % lit(4294967296L)).as("wblk"),
          col("block_text"), col("blk_len"))
        .groupBy("doc_id", "nb")
        .agg(count(lit(1)).as("kept_blocks"),
          sum("blk_len").as("retained_tokens"),
          md5(array_join(transform(
            array_sort(collect_list(struct(col("wblk"), col("block_text")))),
            x => x.getField("block_text")), " ")).as("retained_md5"))
        .select(col("doc_id"), col("nb").as("n_blocks"), col("kept_blocks"),
          col("retained_tokens"), col("retained_md5"))
        .orderBy("doc_id")
    },

    // T154 — TEMPERATURE-scaled source sampling plan (α-sampling:
    // Conneau & Lample 2019 §3.1 / mT5's language balancing — public
    // knowledge): quota ∝ p_s^α flattens a skewed mix; this census is
    // the plan AND its deterministic realization — per source, the
    // α = 0.5 quota share, the hash-rule sample count toward a
    // B = N/2 budget, achieved fraction, and the oversample factor
    // q_s/p_s (> 1 = boosted). Cross-engine exactness: α is pinned at
    // 0.5 because sqrt is IEEE-correctly-rounded everywhere (pow is
    // not); each sqrt(p_s) quantizes ONCE to floor(·1e9) exact longs
    // BEFORE the (sources)-bounded normalization sum, every later
    // double op (one ((B·z)/Z)/n chain, one ·2^60 floor) is spelled
    // in the same order in both engines, and membership is the q58
    // stable-hash threshold — a doc's fate depends only on its id and
    // its source's aggregate. The reusable corpus transform is
    // [[graft.operators.Sampling.temperatureSample]] (any α, same
    // hash rule). Scale: one source-keyed count, bounded-frame rate
    // arithmetic broadcast back, one filter — no sort, no sample
    // pass, no driver data.
    QueryDef("q175_temperature_mix",
      """WITH src AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n
        |  FROM documents GROUP BY source
        |), tot AS (
        |  SELECT CAST(sum(n) AS BIGINT) AS nn FROM src
        |), zq AS (
        |  SELECT source, n, nn,
        |    CAST(floor(sqrt(CAST(n AS DOUBLE) / CAST(nn AS DOUBLE))
        |      * 1000000000.0) AS BIGINT) AS z
        |  FROM src, tot
        |), zz AS (
        |  SELECT CAST(sum(z) AS BIGINT) AS zt FROM zq
        |), rt AS (
        |  SELECT source, n, nn, z, zt, nn // 2 AS b,
        |    CAST(floor(least(1.0, CAST(nn // 2 AS DOUBLE) * CAST(z AS DOUBLE)
        |        / CAST(zt AS DOUBLE) / CAST(n AS DOUBLE))
        |      * 1152921504606846976.0) AS BIGINT) AS thr
        |  FROM zq, zz
        |), smp AS (
        |  SELECT d.source, CAST(count(*) AS BIGINT) AS ns
        |  FROM documents d JOIN rt ON d.source = rt.source
        |  WHERE CAST(concat('0x', substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15))
        |          AS BIGINT) < rt.thr
        |  GROUP BY d.source
        |)
        |SELECT rt.source, rt.n AS n_docs,
        |  round(CAST(rt.z AS DOUBLE) / CAST(rt.zt AS DOUBLE), 6) + 0.0
        |    AS quota_frac,
        |  CAST(coalesce(smp.ns, 0) AS BIGINT) AS n_sampled,
        |  round(CAST(coalesce(smp.ns, 0) AS DOUBLE) / CAST(rt.b AS DOUBLE), 6)
        |    + 0.0 AS achieved_frac,
        |  round((CAST(rt.z AS DOUBLE) / CAST(rt.zt AS DOUBLE))
        |    / (CAST(rt.n AS DOUBLE) / CAST(rt.nn AS DOUBLE)), 4) + 0.0
        |    AS oversample
        |FROM rt LEFT JOIN smp ON rt.source = smp.source
        |ORDER BY rt.source""".stripMargin) { (s, dir) =>
      // The quota arithmetic AND the hash-rule membership both come
      // from the OPERATOR ([[graft.operators.Sampling
      // .temperatureThresholds]]/[[temperatureSampleWith]]) so this
      // oracle gates the reusable transform directly, not an inline
      // re-implementation (VERDICT r12 item 3). B = N/2 via
      // shiftright(nn, 1) ≡ the oracle's `nn // 2` (nn ≥ 0).
      val docs = Tables.documents(s, dir)
      val rt = graft.operators.Sampling.temperatureThresholds(
        docs, "source", alpha = 0.5, budgetOf = nn => shiftright(nn, 1))
      val sampled = graft.operators.Sampling
        .temperatureSampleWith(docs, "source", "doc_id", rt)
        .groupBy("source").agg(count(lit(1)).as("ns"))
      rt.join(sampled, Seq("source"), "left")
        .select(col("source"), col("n").as("n_docs"),
          gf.roundz(col("z").cast("double") / col("zt").cast("double"), 6)
            .as("quota_frac"),
          coalesce(col("ns"), lit(0L)).as("n_sampled"),
          gf.roundz(coalesce(col("ns"), lit(0L)).cast("double")
            / col("b").cast("double"), 6).as("achieved_frac"),
          gf.roundz((col("z").cast("double") / col("zt").cast("double"))
            / (col("n").cast("double") / col("nn").cast("double")), 4)
            .as("oversample"))
        .orderBy("source")
    },

    // T156 — PADDING-WASTE census for length-sorted batching (the
    // dynamic-batching planner number: Transformer batches pad every
    // sequence to the batch max, so unsorted batching burns compute
    // on pad tokens; sorting by length first packs like with like —
    // the standard bucketed-batching trick, e.g. fairseq/HF
    // group_by_length — public knowledge). Per batch size B ∈ {8, 32}:
    // real tokens, padded totals under length-sorted vs doc_id-order
    // batching (batch cost = count·max(len), lengths clipped at 512),
    // waste fractions, and the savings the sort buys. Global batch
    // NUMBERING reuses StarSchemaBuilder.withSurrogateKey (the W1
    // machinery — (512−len, doc_id) ascending ≡ len DESC with id
    // tiebreak), so this is ANOTHER oracle-gated consumer of the
    // scalable SK path; everything downstream is exact integer
    // arithmetic over (B × batches)-bounded frames, and both B values
    // ride ONE numbering per policy (explode, not re-rank).
    QueryDef("q177_padding_waste",
      """WITH d AS (
        |  SELECT doc_id,
        |    least(CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
        |      x -> x <> '')) AS BIGINT), 512) AS len
        |  FROM documents
        |), rs AS (
        |  SELECT len, row_number() OVER (ORDER BY len DESC, doc_id) AS rk
        |  FROM d
        |), ru AS (
        |  SELECT len, row_number() OVER (ORDER BY doc_id) AS rk FROM d
        |), bs AS (
        |  SELECT unnest([8, 32]) AS b
        |), ps AS (
        |  SELECT b, (rk - 1) // b AS g, CAST(count(*) AS BIGINT) AS c,
        |    CAST(max(len) AS BIGINT) AS m, CAST(sum(len) AS BIGINT) AS s
        |  FROM rs, bs GROUP BY b, g
        |), pu AS (
        |  SELECT b, (rk - 1) // b AS g, CAST(count(*) AS BIGINT) AS c,
        |    CAST(max(len) AS BIGINT) AS m, CAST(sum(len) AS BIGINT) AS s
        |  FROM ru, bs GROUP BY b, g
        |), ts AS (
        |  SELECT b, CAST(sum(c * m) AS BIGINT) AS padded,
        |    CAST(sum(s) AS BIGINT) AS rt FROM ps GROUP BY b
        |), tu AS (
        |  SELECT b, CAST(sum(c * m) AS BIGINT) AS padded,
        |    CAST(sum(s) AS BIGINT) AS rt FROM pu GROUP BY b
        |)
        |SELECT a.b AS batch_size, a.rt AS real_tokens,
        |  a.padded AS padded_sorted, u.padded AS padded_unsorted,
        |  round(CAST(a.padded - a.rt AS DOUBLE)
        |    / CAST(a.padded AS DOUBLE), 6) + 0.0 AS waste_sorted,
        |  round(CAST(u.padded - u.rt AS DOUBLE)
        |    / CAST(u.padded AS DOUBLE), 6) + 0.0 AS waste_unsorted,
        |  round(CAST(u.padded - a.padded AS DOUBLE)
        |    / CAST(u.padded AS DOUBLE), 6) + 0.0 AS savings
        |FROM ts a JOIN tu u ON a.b = u.b
        |ORDER BY a.b""".stripMargin) { (s, dir) =>
      import graft.star.{SkStrategy, StarSchemaBuilder}
      // r16: token counts from the tf backbone (Σ tf ≡ the fresh
      // tokenize, see q105) — the per-doc length frame needs no text
      // read and no tokenize; documents contributes a doc_id-only
      // scan so token-free docs still appear with len 0.
      val dl = tfFor(s, dir).groupBy("doc_id").agg(sum("tf").as("__n"))
      val d = Tables.documents(s, dir).select("doc_id")
        .join(dl, Seq("doc_id"), "left")
        .select(col("doc_id"),
          least(coalesce(col("__n"), lit(0L)), lit(512L)).as("len"))
      def census(orderCols: Seq[String], prep: DataFrame => DataFrame) = {
        val rk = StarSchemaBuilder
          .withSurrogateKey(prep(d), orderCols, "rk", SkStrategy.Auto)
        rk.select(col("len"),
            explode(array(lit(8L), lit(32L))).as("b"), col("rk"))
          .withColumn("g", expr("(rk - 1) div b"))
          .groupBy("b", "g")
          .agg(count(lit(1)).as("c"), max("len").as("m"),
            sum("len").as("s"))
          .groupBy("b")
          .agg(sum(col("c") * col("m")).as("padded"), sum("s").as("rt"))
      }
      val sorted = census(Seq("inv", "doc_id"),
        _.withColumn("inv", lit(512L) - col("len")))
      val unsorted = census(Seq("doc_id"), identity)
      sorted.select(col("b"), col("padded").as("ps"), col("rt"))
        .join(unsorted.select(col("b"), col("padded").as("pu")), "b")
        .select(col("b").as("batch_size"), col("rt").as("real_tokens"),
          col("ps").as("padded_sorted"), col("pu").as("padded_unsorted"),
          gf.roundz((col("ps") - col("rt")).cast("double")
            / col("ps").cast("double"), 6).as("waste_sorted"),
          gf.roundz((col("pu") - col("rt")).cast("double")
            / col("pu").cast("double"), 6).as("waste_unsorted"),
          gf.roundz((col("pu") - col("ps")).cast("double")
            / col("pu").cast("double"), 6).as("savings"))
        .orderBy("batch_size")
    },

    // T104 — content-defined chunking census (token-level twin of the
    // byte-level FastCDC expression in plans/CdcChunks): chunk
    // boundaries close AFTER any token whose stable hash ≡ 0 (mod 16)
    // — boundaries depend only on CONTENT, so an insertion reshapes
    // only its own chunk while fixed-size blocks (q134/q69) shift
    // every downstream boundary. The census: per-source chunk counts,
    // distinct-chunk counts (md5-witnessed bytes) and length profile —
    // the dedup-potential readout storage/dataset dedup systems size
    // against. Shape (r16): scan → fused per-doc CdcChunkDigests pass
    // (boundary hash + chunk md5s in one codegen'd expression — no
    // repartition, no token explode, no WindowExec, no chunk-collect
    // aggregate) → explode of the skinny (ch, clen) structs → source
    // census; the only exchange carries (source, ch) partials for the
    // countDistinct. avg over integer token counts: integer-valued
    // doubles sum exactly in any order, so cross-engine rounding
    // agrees.
    QueryDef("q135_cdc_chunks",
      """WITH docs AS (
        |  SELECT doc_id, source, list_filter(
        |    string_split_regex(trim(text), '\s+'), x -> x <> '') AS toks
        |  FROM documents
        |), nz AS (
        |  SELECT doc_id, source, toks, len(toks) AS n
        |  FROM docs WHERE len(toks) > 0
        |), tok AS (
        |  SELECT doc_id, source, unnest(toks) AS tok,
        |    unnest(range(1, n + 1)) AS pos
        |  FROM nz
        |), flagged AS (
        |  SELECT doc_id, source, tok, pos,
        |    CASE WHEN CAST(concat('0x', substr(md5(tok), 1, 15)) AS BIGINT)
        |      % 16 = 0 THEN 1 ELSE 0 END AS b
        |  FROM tok
        |), chunked AS (
        |  SELECT doc_id, source, tok, pos,
        |    sum(b) OVER (PARTITION BY doc_id ORDER BY pos) - b AS chunk_id
        |  FROM flagged
        |), chunks AS (
        |  SELECT doc_id, source, chunk_id,
        |    md5(string_agg(tok, ' ' ORDER BY pos)) AS ch, count(*) AS clen
        |  FROM chunked GROUP BY doc_id, source, chunk_id
        |)
        |SELECT source, count(*) AS n_chunks,
        |  CAST(count(DISTINCT ch) AS BIGINT) AS n_distinct,
        |  CAST(sum(clen) AS BIGINT) AS n_tokens,
        |  round(avg(clen), 4) + 0.0 AS avg_len
        |FROM chunks GROUP BY source ORDER BY source""".stripMargin) { (s, dir) =>
      // Fused per-doc chunker (r16, guide §2.4/§4): the old shape
      // repartitioned RAW corpus text by doc_id, posexploded every
      // token, ran the boundary cumsum as a corpus-sized WindowExec
      // and re-collected each chunk in a (doc, chunk) aggregate. The
      // walk is doc-bounded, so one codegen'd pass emits the (ch,
      // clen) structs directly; only those skinny structs reach the
      // per-source countDistinct exchange.
      Tables.documents(s, dir)
        .fanOutScan(col("doc_id")) // md5-heavy projection: fan out a thin local scan
        .select(col("source"), explode(
          org.apache.spark.sql.graft.CatalystBridge.column(
            graft.plans.CdcChunkDigests(
              org.apache.spark.sql.graft.CatalystBridge.expr(
                gf.tokens(col("text")))))).as("c"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_chunks"),
          countDistinct(col("c.ch")).as("n_distinct"),
          sum(col("c.clen")).as("n_tokens"),
          gf.roundz(avg(col("c.clen")), 4).as("avg_len"))
        .orderBy("source")
    },

    // T106 — corpus version-diff census (release accounting): given
    // two corpus versions keyed by doc_id, classify every doc as
    // added / removed / changed (content md5 differs) / unchanged and
    // report the per-source census plus the token delta — the readout
    // every dataset release ships (what changed since v1?) and the
    // input to incremental re-processing (only added+changed re-enter
    // the pipeline). Versions here are deterministic derivations of
    // the one documents table so the oracle is exact: v_old drops
    // doc_id%7==0 (later additions) and upper-cases text at
    // doc_id%5==0 (later edits); v_new drops doc_id%11==0 (removals).
    // Shape: two projections of the SAME scan → ONE full-outer
    // doc_id-keyed hash join (the only shuffle; at 100 TB both sides
    // bucket by doc_id and the join is exchange-free) → when()
    // classification → (source × 4)-bounded census. coalesce(source)
    // because each side owns the rows the other lacks.
    QueryDef("q136_version_diff",
      """WITH v_old AS (
        |  SELECT doc_id, source,
        |    CASE WHEN doc_id % 5 = 0 THEN upper(text) ELSE text END AS text
        |  FROM documents WHERE doc_id % 7 <> 0
        |), v_new AS (
        |  SELECT doc_id, source, text FROM documents WHERE doc_id % 11 <> 0
        |), j AS (
        |  SELECT coalesce(o.source, n.source) AS source,
        |    CASE
        |      WHEN o.doc_id IS NULL THEN 'added'
        |      WHEN n.doc_id IS NULL THEN 'removed'
        |      WHEN md5(o.text) <> md5(n.text) THEN 'changed'
        |      ELSE 'unchanged' END AS status,
        |    CASE WHEN n.doc_id IS NOT NULL THEN
        |      len(list_filter(string_split_regex(trim(n.text), '\s+'),
        |        x -> x <> '')) ELSE 0 END AS new_toks
        |  FROM v_old o FULL OUTER JOIN v_new n ON o.doc_id = n.doc_id
        |)
        |SELECT source, status, count(*) AS n_docs,
        |  CAST(sum(new_toks) AS BIGINT) AS new_tokens
        |FROM j GROUP BY source, status ORDER BY source, status""".stripMargin
    ) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val vOld = docs.filter(col("doc_id") % 7 =!= 0)
        .select(col("doc_id").as("o_id"), col("source").as("o_src"),
          when(col("doc_id") % 5 === 0, upper(col("text")))
            .otherwise(col("text")).as("o_text"))
      val vNew = docs.filter(col("doc_id") % 11 =!= 0)
        .select(col("doc_id").as("n_id"), col("source").as("n_src"),
          col("text").as("n_text"))
      vOld.join(vNew, col("o_id") === col("n_id"), "full_outer")
        .select(coalesce(col("o_src"), col("n_src")).as("source"),
          when(col("o_id").isNull, lit("added"))
            .when(col("n_id").isNull, lit("removed"))
            .when(md5(col("o_text")) =!= md5(col("n_text")), lit("changed"))
            .otherwise(lit("unchanged")).as("status"),
          when(col("n_id").isNotNull, size(gf.tokens(col("n_text"))))
            .otherwise(lit(0)).cast("long").as("new_toks"))
        .groupBy("source", "status")
        .agg(count(lit(1)).as("n_docs"), sum("new_toks").as("new_tokens"))
        .orderBy("source", "status")
    },

    // T107 — seeded epoch-shuffle order witness: the corpus permuted
    // by Sampling.epochShuffle (total order on stableHashSeeded(42,
    // doc_id), sample-FREE arithmetic range bounds — the hash key is
    // uniform by construction, so RangePartitioner's extra child
    // execution buys nothing), then a per-slice census in which the
    // BUCKET COLUMN IS THE OPERATOR'S OUTPUT PARTITION ID — if
    // sortedByBounds steered any row to the wrong partition, the
    // counts and membership digests mismatch the oracle's arithmetic
    // slice definition. The digest is canonicalized by (eh, doc_id)
    // before hashing (collect_list merge order is not contractual),
    // so WITHIN-partition emission order is pinned by SamplingSpec's
    // driver-reference equality, not by this oracle. Per-slice state
    // is bounded (8 buckets × ordered id digest).
    QueryDef("q137_epoch_census",
      """WITH h AS (
        |  SELECT doc_id,
        |    CAST(concat('0x', substr(md5(concat('42|',
        |      CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) AS eh
        |  FROM documents
        |)
        |SELECT CAST(eh // 144115188075855872 AS INT) AS bucket,
        |  count(*) AS n_docs,
        |  md5(string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY eh, doc_id))
        |    AS order_md5
        |FROM h GROUP BY 1 ORDER BY bucket""".stripMargin) { (s, dir) =>
      val shuffled = graft.operators.Sampling.epochShuffle(
        Tables.documents(s, dir).select("doc_id"), "42", "doc_id", parts = 8)
      shuffled
        .select(col("doc_id"), spark_partition_id().as("bucket"),
          gf.stableHashSeeded(lit("42"), col("doc_id").cast("string")).as("eh"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_docs"),
          md5(array_join(transform(
            array_sort(collect_list(struct(col("eh"), col("doc_id")))),
            x => x.getField("doc_id").cast("string")), ","))
            .as("order_md5"))
        .orderBy("bucket")
    },

    // T146 — training-shard BALANCE census: per hash shard of the
    // T107 seeded shuffle (the same md5 draw and 2^57 range cut as
    // q137, so this censuses the shards a T114 writer would actually
    // emit), docs, tokens, distinct sources, and the source-mix
    // Shannon entropy — the "is every shard a representative
    // mini-corpus" check a data-parallel training run needs: token
    // balance bounds stragglers, low entropy flags source clumping
    // that turns shard order back into curriculum. Shape: one scan →
    // (shard, source) aggregate (bounded: shards × sources) → per-
    // shard rollup; the entropy sum is the q92 bounded-cardinality
    // fold (≤ sources rows per shard) with one ln per bounded row.
    QueryDef("q166_shard_balance",
      """WITH h AS (
        |  SELECT doc_id, source,
        |    len(list_filter(string_split_regex(trim(text), '\s+'),
        |        x -> x <> '')) AS n_tok,
        |    CAST(concat('0x', substr(md5(concat('42|',
        |      CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) AS eh
        |  FROM documents
        |), s AS (
        |  SELECT CAST(eh // 144115188075855872 AS INT) AS shard, source,
        |    count(*) AS c, CAST(sum(n_tok) AS BIGINT) AS toks
        |  FROM h GROUP BY 1, 2
        |), t AS (
        |  SELECT shard, CAST(sum(c) AS DOUBLE) AS n,
        |    CAST(sum(c) AS BIGINT) AS n_docs,
        |    CAST(sum(toks) AS BIGINT) AS n_tokens,
        |    count(*) AS n_sources
        |  FROM s GROUP BY shard
        |)
        |SELECT t.shard, t.n_docs, t.n_tokens, t.n_sources,
        |  round(-sum((s.c / t.n) * ln(s.c / t.n)), 6) + 0.0 AS source_entropy
        |FROM s JOIN t USING (shard)
        |GROUP BY t.shard, t.n_docs, t.n_tokens, t.n_sources
        |ORDER BY t.shard""".stripMargin) { (s, dir) =>
      val h = Tables.documents(s, dir)
        .fanOutScan(col("doc_id")) // scale-adaptive scan fan-out (r16)
        .select(col("source"), size(gf.tokens(col("text"))).as("n_tok"),
          gf.stableHashSeeded(lit("42"), col("doc_id").cast("string"))
            .as("eh"))
      val sh = h
        .groupBy(expr("CAST(eh div 144115188075855872 AS INT)").as("shard"),
          col("source"))
        .agg(count(lit(1)).as("c"), sum("n_tok").cast("long").as("toks"))
      val t = sh.groupBy("shard")
        .agg(sum("c").cast("double").as("n"),
          sum("c").cast("long").as("n_docs"),
          sum("toks").cast("long").as("n_tokens"),
          count(lit(1)).as("n_sources"))
      val p = col("c") / col("n")
      sh.join(t, "shard")
        .groupBy(col("shard"), col("n_docs"), col("n_tokens"),
          col("n_sources"))
        .agg(gf.roundz(-sum(p * log(p)), 6).as("source_entropy"))
        .orderBy("shard")
    },

    // T108 — overlapping-stride chunk census (RAG window prep):
    // size-16 windows every 8 tokens, so consecutive chunks share half
    // their tokens — the retrieval-chunking default (overlap preserves
    // cross-boundary context that q134's disjoint blocks lose; q135's
    // CDC boundaries are content-defined instead). The census: chunks,
    // emitted tokens, and the OVERLAP COST — emitted/base duplication
    // factor, the storage/compute price of the overlap — plus a
    // content witness per source. Shape (r16): one scan → fused
    // per-doc WindowChunkStats pass (chunk md5s + start-ordered doc
    // digest in ONE codegen'd expression: BOUNDED state, one doc's
    // chunks; no explode, no slice copies, no doc-keyed collect) →
    // (source)-keyed aggregate whose witness is the SUM of each doc
    // digest's 60-bit hash mod 1000003 — an order-free O(1)-state
    // combine (a per-source ordered collect would hold the whole
    // corpus's chunk digests in ONE aggregation buffer; the residue
    // sum detects any single-doc change with P ≈ 1−10⁻⁶ and is
    // exact cross-engine, no overflow: ≤ n_docs·10⁶ ≪ 2⁶³).
    // Chunk count per doc is ⌈max(n−w+s, 1) / s⌉ with w=16, s=8:
    // starts 1, 9, 17, … — the arithmetic spans every token.
    QueryDef("q138_window_chunks",
      """WITH docs AS (
        |  SELECT doc_id, source, list_filter(
        |    string_split_regex(trim(text), '\s+'), x -> x <> '') AS toks
        |  FROM documents
        |), nz AS (
        |  SELECT doc_id, source, toks, len(toks) AS n
        |  FROM docs WHERE len(toks) > 0
        |), chunks AS (
        |  SELECT doc_id, source,
        |    1 + i * 8 AS start,
        |    array_to_string(list_slice(toks,
        |      CAST(1 + i * 8 AS BIGINT), CAST(16 + i * 8 AS BIGINT)), ' ')
        |      AS chunk_text,
        |    len(list_slice(toks, CAST(1 + i * 8 AS BIGINT),
        |      CAST(16 + i * 8 AS BIGINT))) AS clen
        |  FROM (SELECT doc_id, source, toks, n,
        |          unnest(range(0, CAST(ceil(
        |            greatest(n - 16 + 8, 1) / 8.0) AS BIGINT))) AS i
        |        FROM nz)
        |), base AS (
        |  SELECT source, sum(n) AS base_tokens FROM nz GROUP BY source
        |), per_doc AS (
        |  SELECT doc_id, source, count(*) AS n_chunks,
        |    sum(clen) AS clen,
        |    CAST(concat('0x', substr(md5(string_agg(md5(chunk_text), ','
        |      ORDER BY start)), 1, 15)) AS BIGINT) % 1000003 AS doc_res
        |  FROM chunks GROUP BY doc_id, source
        |)
        |SELECT d.source, CAST(sum(d.n_chunks) AS BIGINT) AS n_chunks,
        |  CAST(sum(d.clen) AS BIGINT) AS emitted_tokens,
        |  round(sum(d.clen) * 1.0 / max(b.base_tokens), 4) + 0.0 AS dup_factor,
        |  CAST(sum(d.doc_res) AS BIGINT) AS content_sum
        |FROM per_doc d JOIN base b ON d.source = b.source
        |GROUP BY d.source ORDER BY d.source""".stripMargin) { (s, dir) =>
      // Fused per-doc chunk census (r16, guide §2.4/§4): the old shape
      // posexploded a slice() per window start (materializing ~2× the
      // corpus tokens as chunk copies), md5'd each chunk row and
      // re-collected per doc with collect_list + array_sort. The walk
      // is doc-bounded, so one codegen'd pass yields (n_chunks, clen,
      // n_tok, doc_res) per doc and only that 4-long struct reaches
      // the source aggregate.
      // rlike('\S') ⇔ tokens nonempty ⇔ st non-null: the CHEAP exact
      // form of the empty-doc filter. Filtering on st.isNotNull
      // instead would push the whole fused expression below the
      // fan-out exchange and re-evaluate it post-exchange (guide §4.4
      // duplication) — the filter must not reference the struct.
      Tables.documents(s, dir)
        .fanOutScan(col("doc_id")) // md5-heavy projection: fan out a thin local scan
        .filter(col("text").rlike("\\S"))
        .select(col("source"),
          org.apache.spark.sql.graft.CatalystBridge.column(
            graft.plans.WindowChunkStats(
              org.apache.spark.sql.graft.CatalystBridge.expr(
                gf.tokens(col("text"))), 16, 8)).as("st"))
        .groupBy("source")
        .agg(sum(col("st.n_chunks")).as("n_chunks"),
          sum(col("st.clen")).as("emitted_tokens"),
          gf.roundz(sum(col("st.clen")) / sum(col("st.n_tok")), 4)
            .as("dup_factor"),
          sum(col("st.doc_res")).as("content_sum"))
        .orderBy("source")
    },

    // T109 — END-TO-END corpus build census: the full training-corpus
    // assembly chain as ONE query, composing the ACTUAL operators
    // (Dedup.qualityFilter → Dedup.exact → Sampling.tokenBudget) —
    // the capstone proof that the pipeline stages COMPOSE and that
    // the composed result is still oracle-exact. Chain: quality gate
    // (≥30 tokens, stopword ratio < 0.15 — q32's contract) → exact
    // content dedup (min doc_id per md5(text) — q27's contract) →
    // per-source 1500-token budget carve in stable-hash order (q108's
    // contract) → per-source census with a membership residue witness
    // (sum of stableHash(doc_id) mod 1000003 — order-free O(1)
    // combine, the q138 stance). Every stage is the operator the
    // standalone queries already gate; the composition is what a real
    // corpus release runs.
    QueryDef("q139_corpus_build",
      """WITH toks AS (
        |  SELECT doc_id, source, text,
        |    list_filter(string_split_regex(trim(text), '\s+'),
        |      x -> x <> '') AS t
        |  FROM documents
        |), gated AS (
        |  SELECT doc_id, source, text, len(t) AS n_toks FROM toks
        |  WHERE len(t) >= 30
        |    AND CAST(len(list_filter(t, x -> x IN ('the', 'a'))) AS DOUBLE)
        |        / len(t) < 0.15
        |), deduped AS (
        |  SELECT g.* FROM gated g
        |  JOIN (SELECT md5(text) AS h, min(doc_id) AS doc_id
        |        FROM gated GROUP BY md5(text)) k
        |    ON g.doc_id = k.doc_id
        |), carved AS (
        |  SELECT doc_id, source, n_toks FROM (
        |    SELECT doc_id, source, n_toks,
        |      sum(n_toks) OVER (PARTITION BY source
        |        ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |    FROM deduped)
        |  WHERE cum <= 1500
        |)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(n_toks) AS BIGINT) AS n_tokens,
        |  CAST(sum(CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)),
        |    1, 15)) AS BIGINT) % 1000003) AS BIGINT) AS member_sum
        |FROM carved GROUP BY source ORDER BY source""".stripMargin
    ) { (s, dir) =>
      import graft.operators.{Dedup, Sampling}
      // persisted between stages: Dedup.exact consumes the gated frame
      // in BOTH semi-join branches (keepers + survivors) — uncached,
      // each branch would re-scan and re-tokenize the whole corpus
      val gated = graft.CacheRegistry.persistTracked(
        Dedup.qualityFilter(
          Tables.documents(s, dir)
            .fanOutScan(col("doc_id")) // tokenize-heavy gate: scan fan-out
            .select("doc_id", "source", "text")),
        graft.CacheRegistry.DataSized)
      val deduped = Dedup.exact(gated)
        .withColumn("n_toks", size(gf.tokens(col("text"))).cast("long"))
      val carved = Sampling.tokenBudget(
        deduped, "source", "doc_id", "n_toks", budget = 1500L)
      carved
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_toks").as("n_tokens"),
          sum(gf.stableHash(col("doc_id").cast("string")) % 1000003)
            .as("member_sum"))
        .orderBy("source")
    },

    // T110 — ranked-separability census (Mann–Whitney AUC): does the
    // stopword-fraction quality score actually SEPARATE English from
    // non-English docs, per source? The calibration check every
    // heuristic quality filter needs before its threshold is trusted:
    // AUC = P(score_en > score_other) + ½P(=), computed EXACTLY via
    // the tie-corrected rank-sum identity. Scale shape: ONE fused
    // TokenProfile byte scan per row (no token array — the q128/q32
    // stance), score quantized to an integer bucket (floor(frac·1000),
    // exact IEEE in both engines) so the per-(source, bucket) aggregate
    // is (sources × ≤1001)-bounded BEFORE the rank window runs — the
    // cumsum that would be a corpus-wide total sort on raw scores is a
    // window over the bounded cell frame instead. All rank arithmetic
    // stays in LONGS (2·midrank = 2·below + ties + 1), so there is no
    // summation-order float drift; the ONLY division is the final
    // AUC = (R₂⁺ − n₊(n₊+1)) / (2·n₊·n₋), one exact long-ratio per
    // source. Degenerate single-class sources are filtered, not NaN.
    QueryDef("q140_auc_separability",
      """WITH toks AS (
        |  SELECT source, lang, list_filter(
        |    string_split_regex(trim(text), '\s+'), x -> x <> '') AS t
        |  FROM documents
        |), scored AS (
        |  SELECT source,
        |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos,
        |    CAST(floor(CAST(len(list_filter(t, x -> x IN ('the', 'a')))
        |      AS DOUBLE) / len(t) * 1000.0) AS BIGINT) AS bucket
        |  FROM toks WHERE len(t) > 0
        |), cells AS (
        |  SELECT source, bucket, CAST(count(*) AS BIGINT) AS tot,
        |    CAST(sum(pos) AS BIGINT) AS npos
        |  FROM scored GROUP BY source, bucket
        |), ranked AS (
        |  SELECT source, tot, npos,
        |    sum(tot) OVER (PARTITION BY source ORDER BY bucket
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - tot
        |      AS below
        |  FROM cells
        |), agg AS (
        |  SELECT source, sum(npos) AS n_pos, sum(tot) - sum(npos) AS n_neg,
        |    sum(npos * (2 * below + tot + 1)) AS ranksum2
        |  FROM ranked GROUP BY source
        |)
        |SELECT source, CAST(n_pos AS BIGINT) AS n_pos,
        |  CAST(n_neg AS BIGINT) AS n_neg,
        |  round(CAST(ranksum2 - n_pos * (n_pos + 1) AS DOUBLE)
        |    / CAST(2 * n_pos * n_neg AS DOUBLE), 6) + 0.0 AS auc
        |FROM agg WHERE n_pos > 0 AND n_neg > 0
        |ORDER BY source""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.graft.CatalystBridge
      val prof = CatalystBridge.column(graft.plans.TokenProfile(
        CatalystBridge.expr(col("text")), Seq("the", "a")))
      // explode(array(...)) Generate barrier (r16): keeps the
      // n_tokens > 0 predicate from re-running token_profile (§4.4).
      val scored = Tables.documents(s, dir)
        .select(col("source"), col("lang"), explode(array(prof)).as("p"))
        .filter(col("p.n_tokens") > 0)
        .select(col("source"),
          when(col("lang") === "en", 1L).otherwise(0L).as("pos"),
          floor(col("p.n_stop").cast("double") / col("p.n_tokens") * 1000.0)
            .cast("long").as("bucket"))
      val cells = scored.groupBy("source", "bucket")
        .agg(count(lit(1)).as("tot"), sum("pos").as("npos"))
      val rankW = Window.partitionBy("source").orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      cells
        .withColumn("below", sum("tot").over(rankW) - col("tot"))
        .groupBy("source")
        .agg(sum("npos").as("n_pos"),
          (sum("tot") - sum("npos")).as("n_neg"),
          sum(col("npos") * (col("below") * 2 + col("tot") + 1))
            .as("ranksum2"))
        .filter(col("n_pos") > 0 && col("n_neg") > 0)
        .select(col("source"), col("n_pos"), col("n_neg"),
          gf.roundz((col("ranksum2") - col("n_pos") * (col("n_pos") + 1))
            .cast("double")
            / (col("n_pos") * col("n_neg") * 2).cast("double"), 6)
            .as("auc"))
        .orderBy("source")
    },

    // T111 — PMI collocation extraction (Church & Hanks 1990): top-20
    // bigrams by pointwise mutual information with a min-support gate —
    // the corpus-analysis op behind phrase-vocabulary induction and
    // tokenizer merge auditing (q103 ranks pairs by raw count; PMI
    // ranks by ASSOCIATION STRENGTH, surfacing pairs frequent together
    // relative to their parts). Scale shape: ONE corpus scan feeds BOTH
    // censuses — the unigram and width-2 shingle arrays are tagged and
    // concatenated per row, so a single explode + (kind, gram) hash
    // aggregate (map-side combined) collapses corpus volume to
    // vocab/bigram-vocab-bounded frames; that counted frame is
    // persisted (four consumers: c1, c12, and the two 1-row totals).
    // The unigram lookups join on the token key (vocab-bounded skinny
    // join, AQE may broadcast), totals ride a broadcast 1-row cross
    // join, and the top-20 is TakeOrderedAndProject — nothing
    // corpus-sized ever sorts. PMI ties break on (w1, w2).
    QueryDef("q141_pmi_collocations",
      """WITH docs AS (
        |  SELECT list_filter(string_split_regex(trim(text), '\s+'),
        |    x -> x <> '') AS t
        |  FROM documents
        |), bg AS (
        |  SELECT split_part(bigram, ' ', 1) AS w1,
        |    split_part(bigram, ' ', 2) AS w2
        |  FROM (SELECT unnest(list_transform(generate_series(1, len(t) - 1),
        |          i -> t[i] || ' ' || t[i+1])) AS bigram
        |        FROM docs WHERE len(t) >= 2)
        |), c12 AS (
        |  SELECT w1, w2, CAST(count(*) AS BIGINT) AS n_pair
        |  FROM bg GROUP BY w1, w2
        |), uni AS (
        |  SELECT tok, CAST(count(*) AS BIGINT) AS cnt
        |  FROM (SELECT unnest(t) AS tok FROM docs) GROUP BY tok
        |), nb AS (SELECT CAST(sum(n_pair) AS DOUBLE) AS nb FROM c12),
        |nt AS (SELECT CAST(sum(cnt) AS DOUBLE) AS nt FROM uni)
        |SELECT c12.w1, c12.w2, c12.n_pair,
        |  round(ln(c12.n_pair * nt.nt * nt.nt
        |    / (nb.nb * ua.cnt * ub.cnt)), 6) + 0.0 AS pmi
        |FROM c12
        |JOIN uni ua ON c12.w1 = ua.tok
        |JOIN uni ub ON c12.w2 = ub.tok
        |CROSS JOIN nb CROSS JOIN nt
        |WHERE c12.n_pair >= 5
        |ORDER BY pmi DESC, c12.w1, c12.w2 LIMIT 20""".stripMargin) { (s, dir) =>
      // r16: both censuses come off the shared warehouse tables — no
      // corpus scan at all. Unigram counts are Σ tf per term over the
      // tf backbone (the same ShingleTokens width-1 pass built it);
      // bigram instance counts are Σ k per (w1, w2) over the shared
      // w1-bucketed bigram table (the q86 identity: summing k across
      // docs/halves equals counting raw bigram instances). The old
      // shape's fused explode + global string-keyed count — the
      // heaviest per-row work left in this query — is replaced by a
      // bucket-local (w1, w2) aggregate and a vocab-sized term
      // aggregate. Both derived frames feed multiple consumers
      // (uni → ua/ub/nt, c12all → nb/filter), so they persist
      // tracked; both are vocabulary-bounded.
      val uni = graft.CacheRegistry.persistTracked(
        tfFor(s, dir).groupBy(col("term").as("tok"))
          .agg(sum("tf").as("cnt")),
        graft.CacheRegistry.DataSized) // vocab-bounded
      val c12all = graft.CacheRegistry.persistTracked(
        bigramCountsFor(s, dir).groupBy("w1", "w2")
          .agg(sum("k").as("n_pair")),
        graft.CacheRegistry.DataSized) // distinct-bigram bounded
      val c12 = c12all.filter(col("n_pair") >= 5)
      val nb = c12all.agg(sum("n_pair").cast("double").as("nb"))
      val nt = uni.agg(sum("cnt").cast("double").as("nt"))
      val ua = uni.select(col("tok").as("w1"), col("cnt").as("ca"))
      val ub = uni.select(col("tok").as("w2"), col("cnt").as("cb"))
      c12.join(ua, "w1").join(ub, "w2")
        .crossJoin(broadcast(nb)).crossJoin(broadcast(nt))
        .select(col("w1"), col("w2"), col("n_pair"),
          gf.roundz(log(col("n_pair").cast("double") * col("nt") * col("nt")
            / (col("nb") * col("ca").cast("double") * col("cb").cast("double"))), 6)
            .as("pmi"))
        .orderBy(desc("pmi"), col("w1"), col("w2"))
        .limit(20)
    },

    // T113 — held-out Kneser–Ney perplexity census (Kneser & Ney 1995;
    // Chen & Goodman 1999 interpolated form, fixed discount d=0.75):
    // the LM trains on the EVEN doc_ids and scores the ODD ones, so
    // unseen bigrams actually occur and the backoff path is exercised
    // — the production upgrade over q88, whose MLE inner join silently
    // DROPS every bigram the corpus half never saw (P_MLE = 0).
    // P_KN(w2|w1) = max(c12−d,0)/c1 + (d·N1+(w1·)/c1)·(N1+(·w2)/B):
    // the continuation probability ranks w2 by HOW MANY contexts it
    // follows, not how often — the fix for "San Francisco" inflating
    // P(Francisco). Bigrams whose w1 or w2 never appeared in training
    // count into the n_oov column instead of a zero-probability blowup.
    // Scale shape: the corpus is tokenized ONCE into the persisted
    // (doc_id, half, w1, w2, k) counted frame (distinct-bigrams-per-doc
    // bounded, the q88 stance); the train-side model (bgt) is a second
    // persisted distinct-bigram-bounded aggregate feeding its four
    // consumers (c1+n1l in ONE pass, n1r, the 1-row B total, and the
    // scoring join); scoring is three vocab/bigram-keyed equi-joins +
    // one doc-keyed weighted aggregate — nothing all-pairs, nothing
    // corpus-sized past the first aggregate.
    QueryDef("q142_kneser_ney",
      s"""WITH $knCtesSql
         |SELECT doc_id, CAST(sum(k) AS BIGINT) AS n_bigrams,
         |  CAST(sum(CASE WHEN NOT scored THEN k ELSE 0 END) AS BIGINT)
         |    AS n_oov,
         |  round(-CAST(sum(CASE WHEN scored THEN
         |      CAST(round(k * ln(p) * 1000000.0, 0) AS BIGINT) END)
         |      AS DOUBLE) / 1000000.0
         |    / sum(CASE WHEN scored THEN k END), 6) + 0.0 AS avg_nll,
         |  round(exp(-CAST(sum(CASE WHEN scored THEN
         |      CAST(round(k * ln(p) * 1000000.0, 0) AS BIGINT) END)
         |      AS DOUBLE) / 1000000.0
         |    / sum(CASE WHEN scored THEN k END)), 4) + 0.0 AS ppl
         |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val (sc, scored, p) = knScored(s, dir)
      // Micro-long NLL terms — see q88's note (the q130 discipline;
      // the raw k·ln(p) double sum was a live fold-order coin).
      val tq = when(scored, round(col("k").cast("double") * log(p)
        * 1000000.0, 0).cast("long"))
      val wk = sum(when(scored, col("k")))
      val nllE = -sum(tq).cast("double") / 1000000.0 / wk
      sc.groupBy("doc_id")
        .agg(sum("k").as("n_bigrams"),
          sum(when(!scored, col("k")).otherwise(0L)).as("n_oov"),
          gf.roundz(nllE, 6).as("avg_nll"),
          gf.roundz(exp(nllE), 4).as("ppl"))
        .orderBy("doc_id")
    },

    // T132 — CCNet-style perplexity-bucket census (Wenzek et al. 2020,
    // "CCNet: Extracting High Quality Monolingual Datasets"): held-out
    // docs bucketed head/middle/tail per LANG by per-lang NLL terciles
    // of the q142 Kneser–Ney model — the quality stratification CCNet
    // uses to keep the fluent third and route the rest to review. The
    // whole chain — model, per-doc NLL, exact tercile cuts, buckets —
    // is oracle-replicated; census stats are order-free (counts, long
    // sums, min/max), so no per-bucket double summation exists.
    // Scale shape: the model frames are the q142 shapes (one corpus
    // tokenize, vocab/bigram-bounded aggregates); the per-doc NLL
    // frame is docs-bounded and skinny; tercile cuts ride ONE
    // multi-probe quantilesByKey pass per lang (histogram path at
    // scale); census is (langs × 3)-bounded.
    QueryDef("q154_ppl_buckets",
      s"""WITH $knCtesSql, perdoc AS (
         |  SELECT doc_id,
         |    CAST(sum(k) AS BIGINT) AS n_bigrams,
         |    -CAST(sum(CASE WHEN scored THEN
         |        CAST(round(k * ln(p) * 1000000.0, 0) AS BIGINT) END)
         |        AS DOUBLE) / 1000000.0
         |      / sum(CASE WHEN scored THEN k END) AS nll
         |  FROM sc GROUP BY doc_id
         |  HAVING sum(CASE WHEN scored THEN k END) IS NOT NULL
         |), pd AS (
         |  SELECT p.doc_id, p.n_bigrams, p.nll, d.lang
         |  FROM perdoc p JOIN documents d ON p.doc_id = d.doc_id
         |), cuts AS (
         |  SELECT lang, quantile_cont(nll, ${1.0 / 3}) AS t1,
         |    quantile_cont(nll, ${2.0 / 3}) AS t2
         |  FROM pd GROUP BY lang
         |)
         |SELECT pd.lang,
         |  CASE WHEN pd.nll <= c.t1 THEN 'head'
         |       WHEN pd.nll <= c.t2 THEN 'middle' ELSE 'tail' END AS bucket,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(pd.n_bigrams) AS BIGINT) AS n_bigrams,
         |  round(min(pd.nll), 6) + 0.0 AS min_nll, round(max(pd.nll), 6) + 0.0 AS max_nll
         |FROM pd JOIN cuts c ON pd.lang = c.lang
         |GROUP BY 1, 2 ORDER BY pd.lang, bucket""".stripMargin) { (s, dir) =>
      val (sc, scored, p) = knScored(s, dir)
      // Micro-long NLL terms (see q88/q142): the raw-double per-doc
      // sum was a LIVE coin here — DuckDB's own parallel fold order
      // flipped 2–4 census rows run-to-run at sf0.001, amplified by
      // the tercile cut downstream. Exact long term sums are
      // order-free in both engines; cuts now operate on exact values.
      val tq = when(scored, round(col("k").cast("double") * log(p)
        * 1000000.0, 0).cast("long"))
      val wk = sum(when(scored, col("k")))
      val perdoc = sc.groupBy("doc_id")
        .agg(sum("k").as("n_bigrams"),
          (-sum(tq).cast("double") / 1000000.0 / wk).as("nll"),
          wk.as("_wk"))
        .filter(col("_wk").isNotNull)
        .drop("_wk")
      val pd = graft.CacheRegistry.persistTracked(
        perdoc.join(Tables.documents(s, dir).select("doc_id", "lang"),
          "doc_id"),
        graft.CacheRegistry.DataSized) // one skinny row per scored doc
      // Path decision from the SCAN size, not the join (the q113
      // stance: Catalyst join estimates inflate multiplicatively and
      // would misroute the per-doc frame to the histogram path at toy
      // scale — the frame is ≤ one skinny row per document).
      val cuts = graft.operators.RobustStats.quantilesByKey(
        pd, "lang", "nll", Seq(1.0 / 3 -> "t1", 2.0 / 3 -> "t2"),
        histogram = graft.operators.RobustStats.decideHistogram(
          Tables.documents(s, dir).select("doc_id", "lang")))
      pd.join(broadcast(cuts), "lang")
        .select(col("lang"),
          when(col("nll") <= col("t1"), "head")
            .when(col("nll") <= col("t2"), "middle")
            .otherwise("tail").as("bucket"),
          col("n_bigrams"), col("nll"))
        .groupBy("lang", "bucket")
        .agg(count(lit(1)).as("n_docs"), sum("n_bigrams").as("n_bigrams"),
          gf.roundz(min("nll"), 6).as("min_nll"),
          gf.roundz(max("nll"), 6).as("max_nll"))
        .orderBy("lang", "bucket")
    },

    // T133 — lang-ID confusion census: the q34 stopword heuristic
    // EVALUATED against the labeled lang column — per (true, predicted)
    // cell count and row fraction (diagonal row_frac = per-lang
    // recall). The evaluation-gate family (q149 grades the ANN index,
    // q156 the LSH banding): every heuristic filter upstream of a
    // 100 TB corpus build needs the measurement that says what its
    // labels are worth before anything trusts them. One corpus scan →
    // (langs × predictions)-bounded cells; fractions are exact long
    // divisions.
    QueryDef("q155_langid_confusion",
      """WITH pred AS (
        |  SELECT lang,
        |    CASE WHEN contains(' ' || lower(text) || ' ', ' the ') THEN 'en'
        |         WHEN contains(' ' || lower(text) || ' ', ' le ') THEN 'fr'
        |         WHEN contains(' ' || lower(text) || ' ', ' der ') THEN 'de'
        |         WHEN contains(' ' || lower(text) || ' ', ' el ') THEN 'es'
        |         ELSE 'unk' END AS predicted_lang
        |  FROM documents
        |), cells AS (
        |  SELECT lang, predicted_lang, CAST(count(*) AS BIGINT) AS n_docs
        |  FROM pred GROUP BY 1, 2
        |), tot AS (
        |  SELECT lang, CAST(sum(n_docs) AS BIGINT) AS t
        |  FROM cells GROUP BY lang
        |)
        |SELECT c.lang, c.predicted_lang, c.n_docs,
        |  round(CAST(c.n_docs AS DOUBLE) / t.t, 6) + 0.0 AS row_frac
        |FROM cells c JOIN tot t USING (lang)
        |ORDER BY c.lang, c.predicted_lang""".stripMargin) { (s, dir) =>
      val padded = concat(lit(" "), lower(col("text")), lit(" "))
      val cells = Tables.documents(s, dir)
        .select(col("lang"),
          when(padded.contains(" the "), "en")
            .when(padded.contains(" le "), "fr")
            .when(padded.contains(" der "), "de")
            .when(padded.contains(" el "), "es")
            .otherwise("unk").as("predicted_lang"))
        .groupBy("lang", "predicted_lang")
        .agg(count(lit(1)).as("n_docs"))
      val tot = cells.groupBy("lang").agg(sum("n_docs").as("t"))
      cells.join(tot, "lang")
        .select(col("lang"), col("predicted_lang"), col("n_docs"),
          gf.roundz(col("n_docs").cast("double") / col("t"), 6).as("row_frac"))
        .orderBy("lang", "predicted_lang")
    },

    // T134 — LSH candidate-precision census: the q28 banding EVALUATED
    // — every candidate pair's exact Jaccard, censused by similarity
    // band. The S-curve says what banding SHOULD admit
    // (`LshPlannerSpec` pins it analytically); this measures what it
    // DID admit on the actual corpus — the drift alarm for when the
    // corpus's similarity profile departs from the banding design
    // point (precision collapse = verify-join cost explosion at
    // scale). Scale shape: the verify runs on the LSH-bounded
    // candidate stream only (never all-pairs); token arrays fetch via
    // two doc_id equi-joins; the intersect is the zero-allocation
    // two-pointer kernel; the census is ≤ 4 rows, its total a window
    // over that bounded frame.
    QueryDef("q156_lsh_precision",
      s"""$lshPairsSql, t AS (
         |  SELECT doc_id,
         |    list_sort(list_distinct(list_filter(
         |      string_split_regex(trim(text), '\\s+'), x -> x <> ''))) AS toks
         |  FROM documents
         |), jac AS (
         |  SELECT p.doc_a, p.doc_b,
         |    CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
         |      / (len(a.toks) + len(b.toks)
         |         - len(list_intersect(a.toks, b.toks))) AS j
         |  FROM pairs p
         |  JOIN t a ON a.doc_id = p.doc_a
         |  JOIN t b ON b.doc_id = p.doc_b
         |), cells AS (
         |  SELECT CASE WHEN j >= 0.9 THEN 'dup' WHEN j >= 0.5 THEN 'near'
         |              WHEN j >= 0.2 THEN 'weak' ELSE 'chance' END AS band,
         |    CAST(count(*) AS BIGINT) AS n_pairs
         |  FROM jac GROUP BY 1
         |)
         |SELECT band, n_pairs,
         |  round(CAST(n_pairs AS DOUBLE) / sum(n_pairs) OVER (), 6) + 0.0
         |    AS frac
         |FROM cells ORDER BY band""".stripMargin) { (s, dir) =>
      // Distinct-content collapse (the q125/q30 principle — the naive
      // per-pair verify measured 39-68 s at sf10x on the dup-heavy
      // replica corpus): identical texts share identical signatures,
      // so every in-group pair is a candidate at J = 1.0 ('dup' —
      // C(n,2) arithmetic) and every cross-group pair inherits its
      // representatives' band verdict and Jaccard (weight n_a·n_b).
      // Banding + verify run over DISTINCT texts only; the <3-token
      // gate mirrors the oracle (no 3-shingles ⇒ no signature ⇒ no
      // candidates).
      import org.apache.spark.sql.graft.CatalystBridge
      val groups = textGroupsFor(s, dir) // shared disk-backed groups
      val repPairs = repPairsFor(s, dir) // shared banding result
      val t = groups.select(col("doc_id"),
        sort_array(CatalystBridge.column(graft.plans.ShingleTokens(
          CatalystBridge.expr(col("txt")), 1))).as("toks"),
        col("n"))
      val joined = repPairs
        .join(t.select(col("doc_id").as("doc_a"), col("toks").as("ta"),
          col("n").as("na")), "doc_a")
        .join(t.select(col("doc_id").as("doc_b"), col("toks").as("tb"),
          col("n").as("nb")), "doc_b")
      val inter = CatalystBridge.column(graft.plans.SortedIntersectSize(
        CatalystBridge.expr(col("ta")), CatalystBridge.expr(col("tb"))))
      val j = col("inter").cast("double") /
        (size(col("ta")) + size(col("tb")) - col("inter"))
      val cross = joined.withColumn("inter", inter)
        .select(when(j >= 0.9, "dup").when(j >= 0.5, "near")
          .when(j >= 0.2, "weak").otherwise("chance").as("band"),
          (col("na") * col("nb")).as("cnt"))
      val within = groups
        .filter(col("n") >= 2 && col("sig"))
        .select(lit("dup").as("band"),
          expr("(n * (n - 1)) div 2").as("cnt"))
      val cells = cross.union(within)
        .groupBy("band").agg(sum("cnt").as("n_pairs"))
      cells
        .withColumn("frac", gf.roundz(col("n_pairs").cast("double")
          / sum("n_pairs").over(Window.partitionBy()), 6))
        .orderBy("band")
    },

    // T155 — near-dup THRESHOLD SURVIVAL curve: at each Jaccard cut
    // θ ∈ {0.5..0.9}, how many candidate pairs fire, how many
    // representatives the greedy doc_b-side drop removes, and what
    // fraction of rep tokens survives — the operating characteristic
    // a dedup run needs BEFORE committing to a threshold (T149's
    // survival-curve idea applied to the near-dup knob; re-running
    // the dedup per candidate θ would cost a banding pass each).
    // Semantics: exact dedup first (reps of distinct trim(text)),
    // then per rep the MAX candidate Jaccard decides its fate at
    // every θ at once — one verify pass, a (reps)-bounded max
    // aggregate, and a 5-row grid explode over bounded frames.
    // Rides the SAME shared tables as q156 (textGroupsFor +
    // repPairsFor): zero extra corpus passes. Threshold compares are
    // exact-int-ratio doubles vs identical literals — no boundary
    // coin. Greedy drop = [[graft.operators.Dedup
    // .dropPairDuplicates]] at each θ, by construction.
    QueryDef("q176_dedup_survival",
      s"""$lshPairsSql, grp AS (
         |  SELECT trim(text) AS txt, min(doc_id) AS doc_id
         |  FROM documents GROUP BY trim(text)
         |), t AS (
         |  SELECT doc_id,
         |    list_sort(list_distinct(list_filter(
         |      string_split_regex(txt, '\\s+'), x -> x <> ''))) AS toks,
         |    CAST(len(list_filter(string_split_regex(txt, '\\s+'),
         |      x -> x <> '')) AS BIGINT) AS ntok
         |  FROM grp
         |), pj AS (
         |  SELECT p.doc_b,
         |    CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
         |      / (len(a.toks) + len(b.toks)
         |         - len(list_intersect(a.toks, b.toks))) AS j
         |  FROM pairs p
         |  JOIN t a ON a.doc_id = p.doc_a
         |  JOIN t b ON b.doc_id = p.doc_b
         |), th AS (
         |  SELECT unnest([0.5, 0.6, 0.7, 0.8, 0.9]) AS theta
         |), np AS (
         |  SELECT theta, CAST(count(*) AS BIGINT) AS n_pairs
         |  FROM pj, th WHERE j >= theta GROUP BY theta
         |), bm AS (
         |  SELECT doc_b, max(j) AS jmax FROM pj GROUP BY doc_b
         |), dr AS (
         |  SELECT theta, CAST(count(*) AS BIGINT) AS n_dropped,
         |    CAST(sum(t.ntok) AS BIGINT) AS drop_tok
         |  FROM bm JOIN t ON t.doc_id = bm.doc_b, th
         |  WHERE bm.jmax >= theta GROUP BY theta
         |), g AS (
         |  SELECT CAST(count(*) AS BIGINT) AS g_reps,
         |    CAST(sum(ntok) AS BIGINT) AS tot_tok FROM t
         |)
         |SELECT th.theta,
         |  CAST(coalesce(np.n_pairs, 0) AS BIGINT) AS n_pairs,
         |  CAST(coalesce(dr.n_dropped, 0) AS BIGINT) AS n_dropped,
         |  CAST(g.g_reps - coalesce(dr.n_dropped, 0) AS BIGINT) AS n_surviving,
         |  round(CAST(g.tot_tok - coalesce(dr.drop_tok, 0) AS DOUBLE)
         |    / CAST(g.tot_tok AS DOUBLE), 6) + 0.0 AS surviving_tok_frac
         |FROM th CROSS JOIN g
         |LEFT JOIN np ON th.theta = np.theta
         |LEFT JOIN dr ON th.theta = dr.theta
         |ORDER BY th.theta""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.graft.CatalystBridge
      import s.implicits._
      val groups = textGroupsFor(s, dir) // shared disk-backed groups
      val repPairs = repPairsFor(s, dir) // shared banding result
      val t = groups.select(col("doc_id"),
        sort_array(CatalystBridge.column(graft.plans.ShingleTokens(
          CatalystBridge.expr(col("txt")), 1))).as("toks"),
        size(gf.tokens(col("txt"))).cast("long").as("ntok"))
      val inter = CatalystBridge.column(graft.plans.SortedIntersectSize(
        CatalystBridge.expr(col("ta")), CatalystBridge.expr(col("tb"))))
      val pj = repPairs
        .join(t.select(col("doc_id").as("doc_a"), col("toks").as("ta")),
          "doc_a")
        .join(t.select(col("doc_id").as("doc_b"), col("toks").as("tb")),
          "doc_b")
        .withColumn("inter", inter)
        .select(col("doc_b"), (col("inter").cast("double")
          / (size(col("ta")) + size(col("tb")) - col("inter"))).as("j"))
      // Literal grid, NOT 0.5 + i*0.1 arithmetic: 0.5 + 0.1 is
      // 0.6000000000000001 in binary — the parsed literal 0.6 is a
      // DIFFERENT double, and theta is both an output column and a
      // comparison boundary shared with the oracle's [0.5, ... 0.9].
      val thetas = array(Seq(0.5, 0.6, 0.7, 0.8, 0.9).map(lit): _*)
      val np = pj.select(col("j"), explode(thetas).as("theta"))
        .filter(col("j") >= col("theta"))
        .groupBy("theta").agg(count(lit(1)).as("n_pairs"))
      val dr = pj.groupBy("doc_b").agg(max("j").as("jmax"))
        .join(t.select(col("doc_id").as("doc_b"), col("ntok")), "doc_b")
        .select(col("jmax"), col("ntok"), explode(thetas).as("theta"))
        .filter(col("jmax") >= col("theta"))
        .groupBy("theta").agg(count(lit(1)).as("n_dropped"),
          sum("ntok").as("drop_tok"))
      val g = t.agg(count(lit(1)).as("g_reps"),
        sum("ntok").as("tot_tok"))
      Seq(0.5, 0.6, 0.7, 0.8, 0.9).toDF("theta")
        .crossJoin(broadcast(g))
        .join(np, Seq("theta"), "left")
        .join(dr, Seq("theta"), "left")
        .select(col("theta"),
          coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
          coalesce(col("n_dropped"), lit(0L)).as("n_dropped"),
          (col("g_reps") - coalesce(col("n_dropped"), lit(0L)))
            .as("n_surviving"),
          gf.roundz((col("tot_tok") - coalesce(col("drop_tok"), lit(0L)))
            .cast("double") / col("tot_tok").cast("double"), 6)
            .as("surviving_tok_frac"))
        .orderBy("theta")
    },

    // T123 — Poisson-bootstrap confidence interval census (Efron 1979
    // via the Poisson approximation, Chamandy et al. 2012): per-source
    // mean document length WITH an error bar, from ONE corpus pass.
    // Every corpus metric upstream (quality rates, dup rates, token
    // means) ships as a point estimate; this is the operator that says
    // whether a release-over-release delta is signal or sampling noise
    // — without R data-sized resampling shuffles (the classic
    // bootstrap). Weights are a pure function of (doc_id, replicate):
    // a 20-bit shift/mask window of the native 60-bit digest (three
    // replicates per md5 — the digest count per row is the pass's
    // whole cost) compared against INTEGER Poisson(1) CDF thresholds,
    // so both engines draw identical resamples;
    // replicate sums are exact longs, the spread folds in pinned
    // r-order. Spark side: no row fan-out — 2R+2 map-side-combinable
    // sums per source ([[RobustStats.poissonBootstrap]]); the oracle's
    // unnest fan-out is the same math in DuckDB's idiom.
    QueryDef("q146_bootstrap_ci", bootstrapCiSql) { (s, dir) =>
      graft.operators.RobustStats.poissonBootstrap(
        Tables.documents(s, dir),
        keyCol = "source", valCol = "n_chars", idCol = "doc_id")
        .orderBy("source")
    },

    // T127 — Welch two-sample t census (Welch 1947, the unequal-
    // variance t-test): per source, is the hash-split halves' mean
    // length difference SIGNIFICANT? The parametric twin of q146's
    // bootstrap (and the release A/B gate q136's version diff feeds):
    // t statistic + Welch–Satterthwaite degrees of freedom from ONE
    // corpus-scan aggregate of exact long moments (Σx, Σx², n per
    // half) — every derived double follows the identical expression
    // tree in both engines, so no rounding-before-math anywhere.
    // The split is the T17 md5-hash draw, NOT raw id parity: id
    // assignment interleaves by source in this corpus, so doc_id % 2
    // is CONSTANT within each source (one half always empty — the
    // round-9 ADVICE find) — an A/B split variable must be
    // independent of the grouping key by construction, which the
    // stable hash is for any id layout. Sources where either half
    // still has < 2 rows are filtered alike on both sides (no sample
    // variance ⇒ no pinned cross-engine divide-by-zero behavior).
    // Scale shape: one (source)-keyed map-side-combinable aggregate;
    // everything downstream is row-local arithmetic on the bounded
    // frame.
    QueryDef("q150_welch_ttest",
      """WITH d AS (
        |  SELECT source, n_chars,
        |    CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
        |      AS BIGINT) % 2 AS pb
        |  FROM documents
        |), h AS (
        |  SELECT source,
        |    CAST(sum(CASE WHEN pb = 0 THEN n_chars END) AS BIGINT) AS sxa,
        |    CAST(sum(CASE WHEN pb = 0 THEN n_chars * n_chars END) AS BIGINT) AS sxxa,
        |    CAST(count(CASE WHEN pb = 0 THEN 1 END) AS BIGINT) AS na,
        |    CAST(sum(CASE WHEN pb = 1 THEN n_chars END) AS BIGINT) AS sxb,
        |    CAST(sum(CASE WHEN pb = 1 THEN n_chars * n_chars END) AS BIGINT) AS sxxb,
        |    CAST(count(CASE WHEN pb = 1 THEN 1 END) AS BIGINT) AS nb
        |  FROM d GROUP BY source
        |), m AS (
        |  SELECT source, na, nb, sxxa, sxxb,
        |    CAST(sxa AS DOUBLE) / na AS ma,
        |    CAST(sxb AS DOUBLE) / nb AS mb
        |  FROM h
        |  WHERE na >= 2 AND nb >= 2
        |), v AS (
        |  SELECT source, na, nb, ma, mb,
        |    (CAST(sxxa AS DOUBLE) - na * ma * ma) / (na - 1) AS va,
        |    (CAST(sxxb AS DOUBLE) - nb * mb * mb) / (nb - 1) AS vb
        |  FROM m
        |), se AS (
        |  SELECT source, na, nb, ma, mb,
        |    va / na AS sea, vb / nb AS seb
        |  FROM v
        |)
        |SELECT source, na AS n_a, nb AS n_b,
        |  round(ma, 6) + 0.0 AS mean_a, round(mb, 6) + 0.0 AS mean_b,
        |  round((ma - mb) / sqrt(sea + seb), 6) + 0.0 AS t_stat,
        |  round((sea + seb) * (sea + seb)
        |    / (sea * sea / (na - 1) + seb * seb / (nb - 1)), 6) + 0.0 AS dof
        |FROM se ORDER BY source""".stripMargin) { (s, dir) =>
      val even = col("pb") === 0
      val h = Tables.documents(s, dir)
        .withColumn("pb", gf.stableHash(col("doc_id").cast("string")) % 2)
        .groupBy("source")
        .agg(
          sum(when(even, col("n_chars"))).as("sxa"),
          sum(when(even, col("n_chars") * col("n_chars"))).as("sxxa"),
          count(when(even, lit(1))).as("na"),
          sum(when(!even, col("n_chars"))).as("sxb"),
          sum(when(!even, col("n_chars") * col("n_chars"))).as("sxxb"),
          count(when(!even, lit(1))).as("nb"))
        // A parity half with < 2 rows has no sample variance: the
        // (n−1) divisors below would hit zero, and double-div-by-zero
        // behavior differs across engines — pin ONE behavior by
        // requiring both halves testable (both sides filter alike).
        .filter(col("na") >= 2 && col("nb") >= 2)
      val m = h.withColumn("ma", col("sxa").cast("double") / col("na"))
        .withColumn("mb", col("sxb").cast("double") / col("nb"))
      val v = m
        .withColumn("va", (col("sxxa").cast("double")
          - col("na") * col("ma") * col("ma")) / (col("na") - 1))
        .withColumn("vb", (col("sxxb").cast("double")
          - col("nb") * col("mb") * col("mb")) / (col("nb") - 1))
      val se = v.withColumn("sea", col("va") / col("na"))
        .withColumn("seb", col("vb") / col("nb"))
      se.select(col("source"), col("na").as("n_a"), col("nb").as("n_b"),
          gf.roundz(col("ma"), 6).as("mean_a"),
          gf.roundz(col("mb"), 6).as("mean_b"),
          gf.roundz((col("ma") - col("mb"))
            / sqrt(col("sea") + col("seb")), 6).as("t_stat"),
          gf.roundz((col("sea") + col("seb")) * (col("sea") + col("seb"))
            / (col("sea") * col("sea") / (col("na") - 1)
              + col("seb") * col("seb") / (col("nb") - 1)), 6).as("dof"))
        .orderBy("source")
    },

    // T131 — winsorized-mean census (Tukey; 12.5% both tails): per
    // source, the mean with values clamped to [P12.5, P87.5] next to
    // the raw mean — the robust LOCATION estimate (q113 MAD / q124 IQR
    // DETECT outliers; this prices them out of the estimate, the
    // standard monitoring metric when a handful of giant documents
    // would swing the raw mean). Probes are exact binary eighths so
    // the interpolation fraction is exact in both engines.
    // Scale shape: quantiles ride ONE RobustStats.quantilesByKey pass
    // (histogram path above the stats threshold — no per-key sort at
    // scale); the winsorized mean needs NO clamped-value sum of
    // doubles — it is (Σ in-range x + n_lo·p_lo + n_hi·p_hi) / n from
    // exact long sums and counts, so partitioning can't move a bit.
    QueryDef("q153_winsorized_mean",
      """WITH qs AS (
        |  SELECT source, quantile_cont(n_chars, 0.125) AS plo,
        |    quantile_cont(n_chars, 0.875) AS phi
        |  FROM documents GROUP BY source
        |), agg AS (
        |  SELECT d.source, q.plo, q.phi,
        |    CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(d.n_chars) AS BIGINT) AS sx,
        |    CAST(sum(CASE WHEN d.n_chars >= q.plo AND d.n_chars <= q.phi
        |             THEN d.n_chars END) AS BIGINT) AS smid,
        |    CAST(count(CASE WHEN d.n_chars < q.plo THEN 1 END) AS BIGINT) AS nlo,
        |    CAST(count(CASE WHEN d.n_chars > q.phi THEN 1 END) AS BIGINT) AS nhi
        |  FROM documents d JOIN qs q USING (source)
        |  GROUP BY d.source, q.plo, q.phi
        |)
        |SELECT source, n, round(CAST(sx AS DOUBLE) / n, 6) + 0.0 AS raw_mean,
        |  round((CAST(smid AS DOUBLE) + nlo * plo + nhi * phi) / n, 6) + 0.0
        |    AS win_mean,
        |  round(plo, 6) + 0.0 AS p_lo, round(phi, 6) + 0.0 AS p_hi,
        |  nlo + nhi AS n_clamped
        |FROM agg ORDER BY source""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir).select(col("source"), col("n_chars"))
      val useHistogram = graft.operators.RobustStats.decideHistogram(docs)
      val qs = graft.operators.RobustStats.quantilesByKey(
        docs, "source", "n_chars", Seq(0.125 -> "plo", 0.875 -> "phi"),
        histogram = useHistogram)
      docs.join(broadcast(qs), "source")
        .groupBy("source", "plo", "phi")
        .agg(count(lit(1)).as("n"), sum("n_chars").as("sx"),
          sum(when(col("n_chars") >= col("plo")
            && col("n_chars") <= col("phi"), col("n_chars"))).as("smid"),
          count(when(col("n_chars") < col("plo"), lit(1))).as("nlo"),
          count(when(col("n_chars") > col("phi"), lit(1))).as("nhi"))
        .select(col("source"), col("n"),
          gf.roundz(col("sx").cast("double") / col("n"), 6).as("raw_mean"),
          gf.roundz((col("smid").cast("double") + col("nlo") * col("plo")
            + col("nhi") * col("phi")) / col("n"), 6).as("win_mean"),
          gf.roundz(col("plo"), 6).as("p_lo"), gf.roundz(col("phi"), 6).as("p_hi"),
          (col("nlo") + col("nhi")).as("n_clamped"))
        .orderBy("source")
    },

    // T163 — DUP-CLUSTER SIZE-DISTRIBUTION census: log2-bucketed
    // histogram of near-dup cluster sizes with doc and token mass per
    // band — the audit that says whether duplication is a long tail
    // of pairs or a few giant clusters (decides greedy-vs-CC dedup,
    // predicts savings variance, and flags boilerplate explosions —
    // the cluster-size profile SemDeDup/ExactSubstr papers report
    // before dedup commits; public knowledge). Rides the GROUP-level
    // CC (textDupComponents — this round's collapse machinery as a
    // first-class consumer); cluster rollup and histogram are exact
    // integers; the log2 bucket is the q99/q164 IEEE-identical idiom.
    QueryDef("q181_cluster_size_census",
      s"""${lshPairsSql.replaceFirst("WITH ", "WITH RECURSIVE ")}, edges AS (
         |  SELECT doc_a AS u, doc_b AS v FROM pairs
         |  UNION ALL
         |  SELECT doc_b AS u, doc_a AS v FROM pairs
         |), reach AS (
         |  SELECT u AS id, u AS r FROM edges
         |  UNION
         |  SELECT x.id, e.v AS r FROM reach x JOIN edges e ON e.u = x.r
         |), comp AS (
         |  SELECT id AS doc_id, min(r) AS component_id
         |  FROM reach GROUP BY id
         |), nt AS (
         |  SELECT doc_id,
         |    CAST(len(list_filter(string_split_regex(trim(text), '\\s+'),
         |      x -> x <> '')) AS BIGINT) AS nt
         |  FROM documents
         |), cl AS (
         |  SELECT c.component_id, CAST(count(*) AS BIGINT) AS sz,
         |    CAST(sum(nt.nt) AS BIGINT) AS mass
         |  FROM comp c JOIN nt ON nt.doc_id = c.doc_id
         |  GROUP BY c.component_id
         |)
         |SELECT CAST(floor(log2(sz)) AS BIGINT) AS bucket,
         |  CAST(count(*) AS BIGINT) AS n_clusters,
         |  CAST(sum(sz) AS BIGINT) AS n_docs,
         |  CAST(min(sz) AS BIGINT) AS min_size,
         |  CAST(max(sz) AS BIGINT) AS max_size,
         |  CAST(sum(mass) AS BIGINT) AS token_mass
         |FROM cl GROUP BY bucket ORDER BY bucket""".stripMargin) { (s, dir) =>
      // Token mass from the shared tf backbone (r15): Σ tf per doc is
      // the same integer as size(tokens) — a doc absent from tf has
      // zero tokens exactly, so the left join + coalesce(0) is
      // value-identical to the old inner join on a fresh tokenize.
      val toks = tfFor(s, dir).groupBy("doc_id")
        .agg(sum("tf").as("nt"))
      val cl = textDupComponents(s, dir)
        .join(toks, Seq("doc_id"), "left")
        .withColumn("nt", coalesce(col("nt"), lit(0L)))
        .groupBy("component_id")
        .agg(count(lit(1)).as("sz"), sum("nt").as("mass"))
      cl.groupBy(floor(log2(col("sz"))).cast("long").as("bucket"))
        .agg(count(lit(1)).as("n_clusters"), sum("sz").as("n_docs"),
          min("sz").as("min_size"), max("sz").as("max_size"),
          sum("mass").as("token_mass"))
        .orderBy("bucket")
    },

    // T158 — INCREMENTAL span dedup, oracle-gated through the
    // PUBLISHED-VOCABULARY path (the r12-verdict steady-state shape):
    // corpus = even doc_ids (immutable, already published), batch =
    // odd doc_ids (the new increment). The engine derives the corpus
    // window VOCABULARY from the shared `windowsFor` warehouse table
    // (one filtered scan of materialized integers — the corpus TEXT
    // is never re-read, re-tokenized, or re-hashed per increment) and
    // feeds it to `Dedup.removeDuplicatedSpansIncrementalWith`; the
    // census is q173's md5-witnessed shape over the cleaned batch.
    // A batch token is dropped when a covering 6-window occurs
    // anywhere in the corpus vocabulary or in ≥ 2 distinct batch docs.
    QueryDef("q178_incremental_span_dedup", {
      val B = graft.plans.RollingHashWindows.Base
      val mask = 0xffffffffL
      val b2 = (B * B) & mask
      val b3 = (b2 * B) & mask
      val b4 = (b3 * B) & mask
      val b5 = (b4 * B) & mask
      s"""WITH ball AS (
         |  SELECT doc_id,
         |    list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS t
         |  FROM documents WHERE doc_id % 2 = 1
         |), call AS (
         |  SELECT doc_id,
         |    list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS t
         |  FROM documents WHERE doc_id % 2 = 0
         |), cth AS (
         |  SELECT doc_id,
         |    list_transform(t, x ->
         |      CAST(concat('0x', substr(md5(x), 1, 15)) AS BIGINT) % 4294967296) AS h
         |  FROM call WHERE len(t) >= 6
         |), cvocab AS (
         |  SELECT DISTINCT
         |    CAST((CAST(h[i] AS HUGEINT) * $b5 + CAST(h[i+1] AS HUGEINT) * $b4
         |          + CAST(h[i+2] AS HUGEINT) * $b3 + CAST(h[i+3] AS HUGEINT) * $b2
         |          + CAST(h[i+4] AS HUGEINT) * $B + h[i+5]) % 4294967296 AS BIGINT) AS wh
         |  FROM cth, unnest(generate_series(1, len(h) - 5)) AS g(i)
         |), bth AS (
         |  SELECT doc_id,
         |    list_transform(t, x ->
         |      CAST(concat('0x', substr(md5(x), 1, 15)) AS BIGINT) % 4294967296) AS h
         |  FROM ball WHERE len(t) >= 6
         |), bwins AS (
         |  SELECT doc_id, CAST(i AS BIGINT) AS i,
         |    CAST((CAST(h[i] AS HUGEINT) * $b5 + CAST(h[i+1] AS HUGEINT) * $b4
         |          + CAST(h[i+2] AS HUGEINT) * $b3 + CAST(h[i+3] AS HUGEINT) * $b2
         |          + CAST(h[i+4] AS HUGEINT) * $B + h[i+5]) % 4294967296 AS BIGINT) AS wh
         |  FROM bth, unnest(generate_series(1, len(h) - 5)) AS g(i)
         |), brep AS (
         |  SELECT wh FROM bwins GROUP BY wh HAVING count(DISTINCT doc_id) >= 2
         |), dupwh AS (
         |  SELECT wh FROM cvocab UNION SELECT wh FROM brep
         |), dup AS (
         |  SELECT w.doc_id, w.i FROM bwins w JOIN dupwh r ON w.wh = r.wh
         |), brk AS (
         |  SELECT doc_id, i,
         |    CASE WHEN lag(i) OVER (PARTITION BY doc_id ORDER BY i) IS NULL
         |         OR i - lag(i) OVER (PARTITION BY doc_id ORDER BY i) > 6
         |    THEN 1 ELSE 0 END AS b
         |  FROM dup
         |), grp AS (
         |  SELECT doc_id, i, sum(b) OVER (PARTITION BY doc_id ORDER BY i) AS g
         |  FROM brk
         |), spans AS (
         |  SELECT doc_id, min(i) AS s, max(i) + 5 AS e
         |  FROM grp GROUP BY doc_id, g
         |), tok AS (
         |  SELECT doc_id, CAST(i AS BIGINT) AS p, t[i] AS tok
         |  FROM ball, unnest(generate_series(1, len(t))) AS g(i)
         |), kept AS (
         |  SELECT k.doc_id, k.p, k.tok FROM tok k
         |  WHERE NOT EXISTS (SELECT 1 FROM spans sp
         |    WHERE sp.doc_id = k.doc_id AND k.p BETWEEN sp.s AND sp.e)
         |)
         |SELECT d.doc_id, CAST(len(d.t) AS BIGINT) AS n_tokens,
         |  CAST(len(d.t) - count(k.p) AS BIGINT) AS removed_tokens,
         |  md5(coalesce(string_agg(k.tok, ' ' ORDER BY k.p), '')) AS cleaned_md5
         |FROM ball d LEFT JOIN kept k ON d.doc_id = k.doc_id
         |GROUP BY d.doc_id, len(d.t)
         |ORDER BY d.doc_id""".stripMargin
    }) { (s, dir) =>
      import org.apache.spark.sql.graft.CatalystBridge
      val batch = Tables.documents(s, dir).filter(col("doc_id") % 2 === 1)
      // The published vocabulary AND the batch windows: two filtered
      // scans of the shared materialized window table — integers
      // only. r16: the old shape re-derived the batch windows with a
      // fresh tokenize + rolling-hash pass (windowFrame ≡ the table's
      // rows for batch docs, so the pass was pure re-compute), then
      // tokenized the batch TWICE more — once for n_tokens, once
      // re-tokenizing the CLEANED text for removed_tokens. Now the
      // span arrays come off the table (incrementalSpanArrays), and
      // ONE tokenize feeds RemoveSpans, whose `kept`/`cleaned` fields
      // give removed_tokens and the md5 directly (the q173 shape).
      val vocab = windowsFor(s, dir).filter(col("doc_id") % 2 === 0)
        .select("wh").distinct()
      val bwins = windowsFor(s, dir).filter(col("doc_id") % 2 === 1)
      val perDoc = graft.operators.Dedup
        .incrementalSpanArrays(vocab, bwins, width = 6)
      val emptyPos = typedLit(Array.empty[Long])
      batch.fanOutScan(col("doc_id"))
        .select(col("doc_id"), gf.tokens(col("text")).as("toks"))
        .join(perDoc, Seq("doc_id"), "left")
        .select(col("doc_id"),
          size(col("toks")).cast("long").as("n_tokens"),
          CatalystBridge.column(graft.plans.RemoveSpans(
            CatalystBridge.expr(col("toks")),
            CatalystBridge.expr(coalesce(col("__ss"), emptyPos)),
            CatalystBridge.expr(coalesce(col("__es"), emptyPos)))).as("rs"))
        .select(col("doc_id"), col("n_tokens"),
          (col("n_tokens") - col("rs.kept")).as("removed_tokens"),
          md5(col("rs.cleaned")).as("cleaned_md5"))
        .orderBy("doc_id")
    },

    // T159 — VOCABULARY COVERAGE CURVE (tokenizer sizing): for each
    // candidate vocab size V ∈ {1k, 2k, 4k, 8k}, the corpus token
    // mass covered by the top-V types and the OOV remainder — the
    // design table a BPE/unigram vocab budget is picked from (Zipf's
    // law makes the head cover most mass; the marginal V buys less
    // and less — quantify it BEFORE training a tokenizer, the
    // T149/T155 survival-curve stance on the vocab knob). Exactness:
    // type ranking is pinned (count desc, token asc) in both engines;
    // masses are exact long sums; the only doubles are two final
    // exact-int divisions. Scale: one tokenize → type-keyed count
    // (map-side combinable); the rank stage touches only the TOP-8000
    // types via a bounded per-partition heap (TakeOrderedAndProject),
    // never a full vocab sort; the grid rides an explode over those
    // 8000 rows; totals are a 1-row lazy broadcast (the q46/q68
    // pattern).
    QueryDef("q179_vocab_coverage",
      """WITH tok AS (
        |  SELECT unnest(list_filter(string_split_regex(trim(text), '\s+'),
        |    x -> x <> '')) AS tok
        |  FROM documents
        |), tc AS (
        |  SELECT tok, CAST(count(*) AS BIGINT) AS cnt FROM tok GROUP BY tok
        |), tot AS (
        |  SELECT CAST(sum(cnt) AS BIGINT) AS n,
        |    CAST(count(*) AS BIGINT) AS types FROM tc
        |), rk AS (
        |  SELECT cnt, row_number() OVER (ORDER BY cnt DESC, tok) AS r FROM tc
        |), rk8 AS (
        |  SELECT cnt, r FROM rk WHERE r <= 8000
        |), grid AS (
        |  SELECT unnest([1000, 2000, 4000, 8000]) AS v
        |), cum AS (
        |  SELECT g.v,
        |    CAST(sum(CASE WHEN k.r <= g.v THEN k.cnt ELSE 0 END) AS BIGINT) AS mass,
        |    CAST(sum(CASE WHEN k.r <= g.v THEN 1 ELSE 0 END) AS BIGINT) AS kt
        |  FROM grid g, rk8 k GROUP BY g.v
        |)
        |SELECT CAST(c.v AS BIGINT) AS vocab_size, c.kt AS n_types,
        |  t.types AS total_types, t.n AS total_tokens,
        |  round(CAST(c.mass AS DOUBLE) / t.n, 6) + 0.0 AS coverage,
        |  round(1.0 - CAST(c.mass AS DOUBLE) / t.n, 6) + 0.0 AS oov_rate
        |FROM cum c, tot t ORDER BY vocab_size""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      // Global term counts from the shared tf backbone (r15): Σ tf
      // per term is the fresh tokenize's count(*), exactly.
      val tc = tfFor(s, dir)
        .groupBy(col("term").as("tok")).agg(sum("tf").as("cnt"))
      val tot = tc.agg(sum("cnt").cast("long").as("n"),
        count(lit(1)).cast("long").as("types"))
      // Bounded global top-k (TakeOrderedAndProject: per-partition
      // heaps, one 8000-row merge), then the rank window runs over
      // 8000 rows only.
      val top = tc.orderBy(desc("cnt"), asc("tok")).limit(8000)
        .withColumn("r",
          row_number().over(Window.orderBy(desc("cnt"), asc("tok"))))
      val cum = top
        .select(col("cnt"), col("r"),
          explode(array(lit(1000), lit(2000), lit(4000), lit(8000))).as("v"))
        .groupBy("v")
        .agg(sum(when(col("r") <= col("v"), col("cnt")).otherwise(0L))
            .cast("long").as("mass"),
          sum(when(col("r") <= col("v"), 1L).otherwise(0L))
            .cast("long").as("kt"))
      cum.crossJoin(broadcast(tot))
        .select(col("v").cast("long").as("vocab_size"), col("kt").as("n_types"),
          col("types").as("total_types"), col("n").as("total_tokens"),
          gf.roundz(col("mass").cast("double") / col("n"), 6).as("coverage"),
          gf.roundz(lit(1.0) - col("mass").cast("double") / col("n"), 6)
            .as("oov_rate"))
        .orderBy("vocab_size")
    },

    // T160 — EVAL-SET CONTAMINATION census (Brown et al. 2020 §4 /
    // the GPT-3 decontamination standard — public knowledge): for
    // every held-out eval document (doc_id % 31 = 0, the pinned
    // split rule), how many of its 6-token windows occur ANYWHERE in
    // the training remainder — the exact-overlap benchmark-leak gate
    // run BEFORE reporting eval numbers (T147 catches NEAR-dup
    // leakage via LSH; this is the exact n-gram collision detector
    // the published decontaminations actually use). Scale: both
    // sides ride the SHARED `windowsFor` warehouse table (zero extra
    // corpus passes); the train side set-reduces to its distinct
    // window vocabulary and the hit join is wh-keyed — bucket-local
    // on the shared table's bucketing, never a pair explosion. All
    // outputs exact integers.
    QueryDef("q180_eval_contamination", {
      val B = graft.plans.RollingHashWindows.Base
      val mask = 0xffffffffL
      val b2 = (B * B) & mask
      val b3 = (b2 * B) & mask
      val b4 = (b3 * B) & mask
      val b5 = (b4 * B) & mask
      s"""WITH t AS (
         |  SELECT doc_id,
         |    list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS t
         |  FROM documents
         |), th AS (
         |  SELECT doc_id,
         |    list_transform(t, x ->
         |      CAST(concat('0x', substr(md5(x), 1, 15)) AS BIGINT) % 4294967296) AS h
         |  FROM t WHERE len(t) >= 6
         |), wins AS (
         |  SELECT doc_id, CAST(i AS BIGINT) AS i,
         |    CAST((CAST(h[i] AS HUGEINT) * $b5 + CAST(h[i+1] AS HUGEINT) * $b4
         |          + CAST(h[i+2] AS HUGEINT) * $b3 + CAST(h[i+3] AS HUGEINT) * $b2
         |          + CAST(h[i+4] AS HUGEINT) * $B + h[i+5]) % 4294967296 AS BIGINT) AS wh
         |  FROM th, unnest(generate_series(1, len(h) - 5)) AS g(i)
         |), twh AS (
         |  SELECT DISTINCT wh FROM wins WHERE doc_id % 31 <> 0
         |), hit AS (
         |  SELECT e.doc_id, CAST(count(*) AS BIGINT) AS n_hit
         |  FROM wins e JOIN twh ON e.wh = twh.wh
         |  WHERE e.doc_id % 31 = 0 GROUP BY e.doc_id
         |), base AS (
         |  SELECT doc_id,
         |    CAST(greatest(len(t) - 5, 0) AS BIGINT) AS n_windows
         |  FROM t WHERE doc_id % 31 = 0
         |)
         |SELECT b.doc_id, b.n_windows,
         |  CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_contaminated,
         |  CAST(CASE WHEN coalesce(h.n_hit, 0) > 0 THEN 1 ELSE 0 END AS BIGINT)
         |    AS contaminated
         |FROM base b LEFT JOIN hit h ON b.doc_id = h.doc_id
         |ORDER BY b.doc_id""".stripMargin
    }) { (s, dir) =>
      val wins = windowsFor(s, dir)
      val twh = wins.filter(col("doc_id") % 31 =!= 0).select("wh").distinct()
      val hit = wins.filter(col("doc_id") % 31 === 0)
        .join(twh, "wh")
        .groupBy("doc_id").agg(count(lit(1)).as("n_hit"))
      Tables.documents(s, dir)
        .filter(col("doc_id") % 31 === 0)
        .fanOutScan(col("doc_id"))
        .select(col("doc_id"),
          greatest(size(gf.tokens(col("text"))) - 5, lit(0)).cast("long")
            .as("n_windows"))
        .join(hit, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_windows"),
          coalesce(col("n_hit"), lit(0L)).as("n_contaminated"),
          when(coalesce(col("n_hit"), lit(0L)) > 0, 1L).otherwise(0L)
            .as("contaminated"))
        .orderBy("doc_id")
    },

    // T167 — MinHash ESTIMATOR calibration census (Broder 1997's
    // theorem says E[fraction of agreeing signature slots] = Jaccard;
    // this measures how well the 16-slot estimate actually tracks the
    // exact value on THIS corpus' candidates): per banded candidate
    // pair, estimate = agreeing-slots/16 vs exact 3-shingle Jaccard,
    // censused by |error| decile — the sizing evidence for the
    // signature-budget knob (T102 plans banding ANALYTICALLY; q156
    // censuses candidate PRECISION; this censuses the ESTIMATOR, the
    // third leg). Scale: rides the shared distinct-text tables —
    // signatures and exact verifies run once per banded GROUP pair,
    // raw-pair mass expands arithmetically (cross = nA·nB, dup cliques
    // = C(n,2) at est = J = 1); per-pair means accumulate as
    // floor(·1e9 + 0.5) micro-longs so cross-engine fold order cannot
    // drift; the error-band boundary is a float compare on the SAME
    // exact-ratio doubles both engines compute.
    QueryDef("q184_minhash_calibration",
      s"""$lshPairsSql, sz AS (
         |  SELECT doc_id, count(*) AS n FROM sh GROUP BY 1
         |), ix AS (
         |  SELECT p.doc_a, p.doc_b, count(*) AS i
         |  FROM pairs p
         |  JOIN sh a ON a.doc_id = p.doc_a
         |  JOIN sh b ON b.doc_id = p.doc_b AND b.tok = a.tok
         |  GROUP BY 1, 2
         |), per AS (
         |  SELECT p.doc_a, p.doc_b,
         |    (${(0 until NumHashes).map(i =>
              s"CASE WHEN sa.mh$i = sb.mh$i THEN 1 ELSE 0 END")
              .mkString(" + ")}) / 16.0 AS est,
         |    CAST(coalesce(ix.i, 0) AS DOUBLE)
         |      / (za.n + zb.n - coalesce(ix.i, 0)) AS j
         |  FROM pairs p
         |  JOIN sig sa ON sa.doc_id = p.doc_a
         |  JOIN sig sb ON sb.doc_id = p.doc_b
         |  JOIN sz za ON za.doc_id = p.doc_a
         |  JOIN sz zb ON zb.doc_id = p.doc_b
         |  LEFT JOIN ix ON ix.doc_a = p.doc_a AND ix.doc_b = p.doc_b
         |), quant AS (
         |  SELECT CAST(floor(abs(est - j) * 10.0) AS BIGINT) AS err_band,
         |    CAST(floor(est * 1000000000.0 + 0.5) AS BIGINT) AS estq,
         |    CAST(floor(j * 1000000000.0 + 0.5) AS BIGINT) AS jq
         |  FROM per
         |)
         |SELECT err_band, count(*) AS n_pairs,
         |  round(CAST(sum(estq) AS DOUBLE) / count(*) / 1000000000.0, 9) + 0.0
         |    AS mean_est,
         |  round(CAST(sum(jq) AS DOUBLE) / count(*) / 1000000000.0, 9) + 0.0
         |    AS mean_jaccard
         |FROM quant GROUP BY err_band ORDER BY err_band""".stripMargin) { (s, dir) =>
      val groups = textGroupsFor(s, dir) // shared disk-backed groups
      val repPairs = repPairsFor(s, dir) // shared banding result
      val reps = groups.select(col("doc_id"), col("txt").as("text"))
      val sig = graft.operators.MinHashLsh.signatures(reps, NumHashes)
      val sa = sig.select(col("doc_id").as("doc_a") +:
        (0 until NumHashes).map(i => col(s"mh$i").as(s"a_mh$i")): _*)
      val sb = sig.select(col("doc_id").as("doc_b") +:
        (0 until NumHashes).map(i => col(s"mh$i").as(s"b_mh$i")): _*)
      val agree = (0 until NumHashes)
        .map(i => when(col(s"a_mh$i") === col(s"b_mh$i"), 1).otherwise(0))
        .reduce(_ + _)
      val toks = groups
        .select(col("doc_id"),
          org.apache.spark.sql.graft.CatalystBridge.column(
            graft.plans.ShingleTokens(
              org.apache.spark.sql.graft.CatalystBridge.expr(col("txt")),
              3, dedupe = true, sorted = true)).as("toks"))
        .withColumn("n", size(col("toks")))
      val inter = org.apache.spark.sql.graft.CatalystBridge.column(
        graft.plans.SortedIntersectSize(
          org.apache.spark.sql.graft.CatalystBridge.expr(col("ta")),
          org.apache.spark.sql.graft.CatalystBridge.expr(col("tb"))))
      val mcnt = groups.select(col("doc_id"), col("n").as("members"))
      val est = agree / lit(16.0)
      val jac = inter.cast("double") / (col("na") + col("nb") - inter)
      val crossQ = repPairs
        .join(sa, "doc_a").join(sb, "doc_b")
        .join(toks.select(col("doc_id").as("doc_a"), col("toks").as("ta"),
          col("n").as("na")), "doc_a")
        .join(toks.select(col("doc_id").as("doc_b"), col("toks").as("tb"),
          col("n").as("nb")), "doc_b")
        .join(mcnt.withColumnRenamed("doc_id", "doc_a")
          .withColumnRenamed("members", "ma"), "doc_a")
        .join(mcnt.withColumnRenamed("doc_id", "doc_b")
          .withColumnRenamed("members", "mb"), "doc_b")
        .select((col("ma") * col("mb")).as("w"),
          floor(abs(est - jac) * lit(10.0)).cast("long").as("err_band"),
          floor(est * lit(1000000000.0) + 0.5).cast("long").as("estq"),
          floor(jac * lit(1000000000.0) + 0.5).cast("long").as("jq"))
      // Dup-group cliques: identical texts ⇒ identical signatures AND
      // identical shingle sets ⇒ est = j = 1 exactly, error band 0 —
      // gated on the group having a signature (≥ 3 tokens).
      val within = groups
        .filter(col("n") >= 2 && col("sig"))
        .select(expr("(n * (n - 1)) div 2").as("w"),
          lit(0L).as("err_band"),
          lit(1000000000L).as("estq"), lit(1000000000L).as("jq"))
      crossQ.union(within)
        .groupBy("err_band")
        .agg(sum("w").as("n_pairs"),
          gf.roundz(sum(col("estq") * col("w")).cast("double")
            / sum(col("w")) / lit(1000000000.0), 9).as("mean_est"),
          gf.roundz(sum(col("jq") * col("w")).cast("double")
            / sum(col("w")) / lit(1000000000.0), 9).as("mean_jaccard"))
        .orderBy("err_band")
    }
  )

  /** The Kneser–Ney chain shared by q142 (per-doc perplexity) and
    * q154 (CCNet buckets): corpus tokenize → per-(doc, half) counted
    * bigrams → train-half model frames (c12 / c1+n1l / n1r / 1-row B)
    * → held-out rows scored with the interpolated KN probability.
    * One definition so the two queries' models can never drift.
    * (`lazy`: referenced from `defs`, which is declared above this in
    * initialization order — the BlockPhrases precedent.) */
  private lazy val knCtesSql: String =
    """docs AS (
      |  SELECT doc_id, doc_id % 2 AS half,
      |    list_filter(string_split_regex(trim(text), '\s+'),
      |      x -> x <> '') AS t
      |  FROM documents
      |), bg AS (
      |  SELECT doc_id, half,
      |    unnest(list_transform(generate_series(1, len(t) - 1),
      |      i -> t[i] || ' ' || t[i+1])) AS bigram
      |  FROM docs WHERE len(t) >= 2
      |), d AS (
      |  SELECT doc_id, half, split_part(bigram, ' ', 1) AS w1,
      |    split_part(bigram, ' ', 2) AS w2, CAST(count(*) AS BIGINT) AS k
      |  FROM bg GROUP BY 1, 2, 3, 4
      |), bgt AS (
      |  SELECT w1, w2, CAST(sum(k) AS BIGINT) AS c12
      |  FROM d WHERE half = 0 GROUP BY w1, w2
      |), c1 AS (
      |  SELECT w1, CAST(sum(c12) AS BIGINT) AS c1,
      |    CAST(count(*) AS BIGINT) AS n1l
      |  FROM bgt GROUP BY w1
      |), n1r AS (
      |  SELECT w2, CAST(count(*) AS BIGINT) AS n1r FROM bgt GROUP BY w2
      |), btot AS (SELECT CAST(count(*) AS DOUBLE) AS bb FROM bgt),
      |sc AS (
      |  SELECT s.doc_id, s.k,
      |    (c1.c1 IS NOT NULL AND n1r.n1r IS NOT NULL) AS scored,
      |    greatest(coalesce(bgt.c12, 0) - 0.75, 0.0) / c1.c1
      |      + 0.75 * c1.n1l / c1.c1 * (n1r.n1r / btot.bb) AS p
      |  FROM (SELECT * FROM d WHERE half = 1) s
      |  LEFT JOIN bgt ON s.w1 = bgt.w1 AND s.w2 = bgt.w2
      |  LEFT JOIN c1 ON s.w1 = c1.w1
      |  LEFT JOIN n1r ON s.w2 = n1r.w2
      |  CROSS JOIN btot
      |)""".stripMargin

  /** Engine twin of [[knCtesSql]]: the scored held-out frame plus the
    * `scored` predicate and KN probability columns. The bigram counts
    * come from the shared w1-bucketed table ([[bigramCountsFor]]), so
    * the model aggregates are shuffle-free; the train-bigram frame
    * persists tracked (four consumers).
    *
    * Scoring shape (r16, guide §8 / §2.3): the KN stats are a function
    * of the PAIR (w1, w2) alone, so the model joins run over the
    * DISTINCT held-out pairs (vocab²-bounded, exchange-free off the
    * w1-bucketed scan) and the corpus-sized (doc, pair, k) frame
    * attaches the finished pair-stat row with ONE equi-join — the old
    * shape shuffled the full held-out frame through three exchanges
    * ((w1,w2), w1, w2) to carry the same four numbers. Every stat
    * column reaching the consumers is the identical value, so the
    * downstream `p`/`scored` doubles are bit-unchanged. */
  private def knScored(s: SparkSession, dir: String)
      : (DataFrame, Column, Column) = {
    val d = bigramCountsFor(s, dir)
    val probe = d.filter(col("half") === 1)
    val bgt = graft.CacheRegistry.persistTracked(
      d.filter(col("half") === 0)
        .groupBy("w1", "w2").agg(sum("k").as("c12")),
      graft.CacheRegistry.DataSized) // distinct train bigrams
    val c1 = bgt.groupBy("w1")
      .agg(sum("c12").as("c1"), count(lit(1)).as("n1l"))
    val n1r = bgt.groupBy("w2").agg(count(lit(1)).as("n1r"))
    val btot = bgt.agg(count(lit(1)).cast("double").as("bb"))
    val pairStats = probe.select("w1", "w2").distinct()
      .join(bgt, Seq("w1", "w2"), "left")
      .join(c1, Seq("w1"), "left")
      .join(n1r, Seq("w2"), "left")
      .crossJoin(broadcast(btot))
    val sc = probe.join(pairStats, Seq("w1", "w2"), "left")
    val scored = col("c1").isNotNull && col("n1r").isNotNull
    val p = greatest(coalesce(col("c12"), lit(0L)) - 0.75, lit(0.0)) /
      col("c1") +
      lit(0.75) * col("n1l") / col("c1") * (col("n1r") / col("bb"))
    (sc, scored, p)
  }

  /** q146's oracle: the Poisson-weight CASE is generated from the same
    * integer thresholds [[graft.operators.RobustStats.PoissonCdfThresholds]]
    * the engine compares against — the draw is a long comparison on
    * both sides, never a float-literal round trip. Replicate r draws
    * 20-bit window r % 3 (shift + mask, top window first) of the
    * 60-bit digest stable_hash60(doc_id ":" r/3) — three replicates
    * per md5, mirroring the engine's digest-sharing exactly. */
  private def bootstrapCiSql: String = {
    val T = graft.operators.RobustStats.PoissonCdfThresholds
    val caseArms = T.zipWithIndex
      .map { case (t, k) => s"WHEN h < $t THEN $k" }.mkString(" ")
    s"""WITH reps AS (SELECT unnest(generate_series(0, 31)) AS r),
       |base AS (
       |  SELECT source, CAST(sum(n_chars) AS BIGINT) AS sx,
       |    CAST(count(*) AS BIGINT) AS n
       |  FROM documents GROUP BY source
       |), w AS (
       |  SELECT source, r, x, CASE $caseArms ELSE ${T.length} END AS w
       |  FROM (
       |    SELECT d.source, r.r AS r, CAST(d.n_chars AS BIGINT) AS x,
       |      (CAST(concat('0x', substr(md5(CAST(d.doc_id AS VARCHAR)
       |        || ':' || CAST(r.r // 3 AS VARCHAR)), 1, 15)) AS BIGINT)
       |       >> (20 * (2 - r.r % 3))) & 1048575 AS h
       |    FROM documents d CROSS JOIN reps r
       |  )
       |), means AS (
       |  SELECT w.source, w.r,
       |    CASE WHEN sum(w.w) = 0 THEN CAST(b.sx AS DOUBLE) / b.n
       |         ELSE CAST(sum(w.w * w.x) AS DOUBLE) / sum(w.w) END AS m
       |  FROM w JOIN base b ON w.source = b.source
       |  GROUP BY w.source, w.r, b.sx, b.n
       |), lists AS (
       |  SELECT source, list(m ORDER BY r) AS ms FROM means GROUP BY source
       |), spread AS (
       |  SELECT source,
       |    sqrt(list_sum(list_transform(ms,
       |      m -> (m - list_sum(ms) / 32) * (m - list_sum(ms) / 32))) / 31)
       |      AS se
       |  FROM lists
       |)
       |SELECT b.source, b.n AS n_rows,
       |  round(CAST(b.sx AS DOUBLE) / b.n, 6) + 0.0 AS point_mean,
       |  round(s.se, 6) + 0.0 AS boot_se,
       |  round(CAST(b.sx AS DOUBLE) / b.n - 1.96 * s.se, 6) + 0.0 AS ci_lo,
       |  round(CAST(b.sx AS DOUBLE) / b.n + 1.96 * s.se, 6) + 0.0 AS ci_hi
       |FROM base b JOIN spread s ON b.source = s.source
       |ORDER BY b.source""".stripMargin
  }

  /** q131's blocklist: two-word collocations of the corpus vocabulary
    * (plus one absent control phrase) — the census proves presence AND
    * absence handling. (`lazy`: referenced from `defs`, which is
    * declared above this in initialization order.) */
  private lazy val BlockPhrases: Seq[String] = Seq(
    "customer order", "hash join", "sort merge", "big data",
    "fast scan", "slow query", "stream batch", "key value",
    "spark table", "row filter", "quantum leapfrog")

  private def tokensBySource(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .fanOutScan(col("doc_id")) // scale-adaptive scan fan-out (r16)
      .select(col("doc_id"), col("source"),
        explode(gf.tokens(col("text"))).as("tok"))

  /** HLL twin of q70: one pass, fixed sketch state per group — the
    * 100 TB path for cardinality (exact count(DISTINCT) shuffles every
    * distinct value; the sketch shuffles kilobytes). `rsd` is Spark's
    * relative-standard-deviation knob. No oracle entry: sketch values
    * have no cross-engine twin; CardinalitySpec bounds the error
    * against the exact profile instead. */
  def cardinalityProfileApprox(s: SparkSession, dir: String,
      rsd: Double = 0.02): DataFrame =
    tokensBySource(s, dir)
      .groupBy("source")
      .agg(approx_count_distinct(col("tok"), rsd).as("n_distinct_toks"),
        count(lit(1)).as("n_tokens"),
        approx_count_distinct(col("doc_id"), rsd).as("n_docs"))
      .orderBy("source")

  /** KMV scale twin of q73: per-source k-minimum-values vocabulary
    * sketches ([[graft.plans.KmvSketch]] — ONE corpus pass, O(k) longs
    * of state per source) + pairwise set-operation estimates over the
    * collected sketches (sources-bounded driver work) — the 100 TB
    * path q73's scaladoc promises: with millions of distinct tokens
    * per source the exact postings self-join shuffles the full
    * source×token table, while the sketches ship kilobytes and the
    * estimates carry the ~1/√(k−2) KMV error. When a source's
    * vocabulary fits inside k the sketch — and therefore the estimate
    * — is EXACT (the spec pins this against q73's exact Jaccard). */
  def vocabOverlapApprox(s: SparkSession, dir: String,
      k: Int = 1024): DataFrame = {
    import org.apache.spark.sql.graft.CatalystBridge
    import s.implicits._
    val sketches = Tables.documents(s, dir)
      .select(col("source"), explode(gf.tokens(col("text"))).as("tok"))
      .groupBy("source")
      .agg(CatalystBridge.column(
        graft.plans.KmvSketch(CatalystBridge.expr(col("tok")), k)
          .toAggregateExpression()).as("sketch"))
      .as[(String, Array[Long])]
      .collect() // sources-bounded (one O(k) array per source)
      .sortBy(_._1)
    val pairs = for {
      i <- sketches.indices
      j <- (i + 1) until sketches.length
    } yield {
      val (sa, va) = sketches(i)
      val (sb, vb) = sketches(j)
      (sa, sb,
        graft.plans.Kmv.estimate(va, k),
        graft.plans.Kmv.estimate(vb, k),
        graft.plans.Kmv.intersectEstimate(va, vb, k),
        graft.plans.Kmv.jaccardEstimate(va, vb, k))
    }
    pairs.toDF("src_a", "src_b", "est_n_a", "est_n_b",
      "est_shared", "est_jaccard")
  }

  /** One-pass bounded-memory heavy-hitter candidates via the native
    * Misra–Gries aggregate ([[graft.plans.FreqSketch]]) — the scale
    * twin of exact token top-k (q08's TakeOrderedAndProject shape
    * still shuffles one row per DISTINCT token; the sketch ships ≤ k
    * counters per partition). Guarantee: any token with frequency
    * > N/(k+1) is present; counts undercount by at most the reported
    * `err` (spec'd in `FreqSketchSpec`, no cross-engine oracle). */
  def topTokensApprox(s: SparkSession, dir: String, k: Int = 64): DataFrame = {
    import org.apache.spark.sql.graft.CatalystBridge
    Tables.documents(s, dir)
      .select(explode(gf.tokens(col("text"))).as("tok"))
      .agg(CatalystBridge.column(
        graft.plans.FreqSketch(CatalystBridge.expr(col("tok")), k)
          .toAggregateExpression()).as("sketch"))
      .select(explode(col("sketch")).as("hh"))
      .select(col("hh.item").as("item"),
        col("hh.count_min").as("count_min"), col("hh.err").as("err"))
  }
}
