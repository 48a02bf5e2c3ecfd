package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.Tables
import graft.{functions => gf}
import graft.operators.{Multimodal, Similarity}

/** ANN + multimodal scoring-surface entries. The IVF query replicates
  * [[graft.operators.Similarity.ivfTopK]]'s exact semantics in DuckDB
  * SQL (centroids = vec_id < 16, argmax assignment, 2-probe), so the
  * approximate index itself is oracle-checked, not just row-counted.
  */
object AnnQueries {

  private val cosSql =
    "list_sum(list_transform(generate_series(1, len(%s)), i -> %s[i] * %s[i])) / (%s * %s)"

  private def cos(ae: String, be: String, an: String, bn: String) =
    cosSql.format(ae, ae, be, an, bn)

  /** Prefix-d cosine between q.e and c.e — the matryoshka-truncation
    * scorer (left folds over generate_series(1, d), matching the
    * engine's `dot(slice)`/`norm(slice)` sequential folds). */
  private def cosPrefix(d: Int): String =
    s"""list_sum(list_transform(generate_series(1, $d), i -> q.e[i] * c.e[i]))
       |      / (sqrt(list_sum(list_transform(generate_series(1, $d), i -> q.e[i] * q.e[i])))
       |         * sqrt(list_sum(list_transform(generate_series(1, $d), i -> c.e[i] * c.e[i]))))""".stripMargin

  /** q158's oracle: one ranked-top5 CTE per prefix dim, overlap joined
    * against the full-dim reference ranking. */
  private def matryoshkaSql(dims: Seq[Int], full: Int): String = {
    val blocks = dims.map { d =>
      s"""rank$d AS (
         |  SELECT qid, vec_id, r, cos_full FROM (
         |    SELECT q.vec_id AS qid, c.vec_id,
         |      row_number() OVER (PARTITION BY q.vec_id
         |        ORDER BY ${cosPrefix(d)} DESC, c.vec_id) AS r,
         |      ${cosPrefix(full)} AS cos_full
         |    FROM n q JOIN n c ON q.vec_id < 8 AND c.vec_id <> q.vec_id
         |  ) WHERE r <= 5
         |)""".stripMargin
    }.mkString(", ")
    val union = dims.map(d =>
      s"SELECT $d AS dim, qid, vec_id, r, cos_full FROM rank$d")
      .mkString("\n  UNION ALL\n  ")
    s"""WITH v AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
       |  FROM embeddings
       |), n AS (SELECT vec_id, e FROM v), $blocks, ranked AS (
       |  $union
       |)
       |SELECT u.dim,
       |  CAST(count(f.vec_id) AS BIGINT) AS n_overlap,
       |  round(CAST(count(f.vec_id) AS DOUBLE) / 40.0, 6) + 0.0 AS recall_at_5,
       |  round(CAST(sum(CASE WHEN u.r = 1
       |      THEN CAST(round(u.cos_full * 1000000.0, 0) AS BIGINT) END)
       |    AS DOUBLE) / 8.0 / 1000000.0, 6) + 0.0 AS avg_top1_full_cos
       |FROM ranked u LEFT JOIN rank$full f
       |  ON u.qid = f.qid AND u.vec_id = f.vec_id
       |GROUP BY u.dim ORDER BY u.dim""".stripMargin
  }

  /** q161's oracle: [[graft.operators.Srp]]'s sign literals, exact
    * BIGINT projections, xor + bit_count Hamming banding. The sketch
    * mirrors [[graft.plans.SrpSketch]]'s WHOLE-ARRAY null rule (a
    * null anywhere in the vector — even in the tail beyond
    * `Srp.Dims` that the sign matrix ignores — yields a NULL sketch,
    * hence a NULL band in both engines; ADVICE r11). */
  /** q171's oracle: one UNION ALL branch per bit width over a shared
    * component CTE — reconstruction expression textually identical in
    * operation order to the engine's Column form, so the doubles are
    * bit-equal before the micro-long quantization. The component CTE
    * drops WHOLE vectors containing any NULL element, mirroring the
    * engine's [[graft.plans.QuantSweep]] whole-vector null
    * propagation (a bare unnest would emit a NULL component row that
    * count(*) includes while sum skips — ADVICE r11). */
  private lazy val quantSweepSql: String = {
    def errSql(l: String) =
      s"(x - ((least(greatest(floor((x + 1.0) / 2.0 * $l), 0.0), " +
        s"$l - 1.0) + 0.5) * 2.0 / $l - 1.0))"
    val branches = Seq(2, 4, 6, 8).map { b =>
      val e = errSql((1 << b).toDouble.toString)
      s"""SELECT CAST($b AS BIGINT) AS bit_width,
         |  CAST(count(*) AS BIGINT) AS n_components,
         |  round(CAST(sum(CAST(floor($e * $e * 1000000000.0 + 0.5) AS BIGINT))
         |      AS DOUBLE) / count(*) / 1000000000.0, 6) + 0.0 AS mse,
         |  round(max(abs($e)), 6) + 0.0 AS max_abs_err
         |FROM c""".stripMargin
    }
    s"""WITH c AS (
       |  SELECT CAST(unnest(embedding) AS DOUBLE) AS x FROM embeddings
       |  WHERE len(list_filter(embedding, x -> x IS NULL)) = 0
       |)
       |${branches.mkString("\nUNION ALL\n")}
       |ORDER BY bit_width""".stripMargin
  }

  private lazy val srpSql: String = {
    import graft.operators.Srp
    val bits = (0 until Srp.Bits).map { b =>
      val lst = Srp.signs(b).mkString("[", ", ", "]")
      s"""(CASE WHEN list_sum(list_transform(generate_series(1, ${Srp.Dims}),
         |      i -> eq[i] * ($lst)[i])) > 0 THEN ${1L << b} ELSE 0 END)""".stripMargin
    }.mkString("\n    + ")
    s"""WITH v AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
       |  FROM embeddings
       |), n AS (
       |  SELECT vec_id, e,
       |    sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm,
       |    list_transform(e, x -> CAST(floor(x * 32768.0) AS BIGINT)) AS eq
       |  FROM v
       |), sk AS (
       |  SELECT vec_id, e, nrm,
       |    CASE WHEN len(list_filter(e, x -> x IS NULL)) > 0 THEN NULL
       |         ELSE CAST($bits AS BIGINT) END AS sketch FROM n
       |), pairs AS (
       |  SELECT CAST(bit_count(xor(q.sketch, c.sketch)) // 4 AS INTEGER) AS band,
       |    round(${cos("q.e", "c.e", "q.nrm", "c.nrm")}, 6) + 0.0 AS cos
       |  FROM sk q JOIN sk c ON q.vec_id < 8 AND c.vec_id <> q.vec_id
       |)
       |SELECT band, count(*) AS n_pairs,
       |  round(CAST(sum(CAST(round(cos * 1000000.0, 0) AS BIGINT)) AS DOUBLE)
       |    / count(*) / 1000000.0, 6) + 0.0 AS avg_cos,
       |  round(min(cos), 6) + 0.0 AS min_cos,
       |  round(max(cos), 6) + 0.0 AS max_cos
       |FROM pairs GROUP BY band ORDER BY band""".stripMargin
  }

  /** DuckDB twin of [[Similarity.trainCentroids]] as a WITH-clause
    * fragment (expects a CTE `n(vec_id, e, nrm)` in scope; emits the
    * final centroids as `cent(cent_id, ce, cn)`): md5-ordered seed and
    * sample draw, then `iters` unrolled Lloyd steps — argmax-cosine
    * assignment, element-wise per-position EXACT-LONG mean of
    * floor(x·2^15) rounded once to 6 decimals (the q130/T125
    * determinism idiom, mirrored in `Similarity.trainCentroids`),
    * restitched in position order. */
  private[queries] def centroidCtes(
      nCent: Int, trainN: Int, iters: Int): String = {
    val b = new StringBuilder
    b ++= s"""ehashed AS (
       |  SELECT vec_id, e, nrm, md5(CAST(vec_id AS VARCHAR)) AS h FROM n
       |), samp AS (
       |  SELECT vec_id, e, nrm FROM ehashed ORDER BY h LIMIT $trainN
       |), c0 AS (
       |  SELECT vec_id AS cent_id, e AS ce, nrm AS cn
       |  FROM ehashed ORDER BY h LIMIT $nCent
       |)""".stripMargin
    for (t <- 1 to iters) {
      b ++= s""", a$t AS (
         |  SELECT cent_id, e FROM (
         |    SELECT s.e, t.cent_id,
         |      row_number() OVER (PARTITION BY s.vec_id
         |        ORDER BY ${cos("s.e", "t.ce", "s.nrm", "t.cn")} DESC,
         |          t.cent_id) AS arank
         |    FROM samp s CROSS JOIN c${t - 1} t
         |  ) WHERE arank = 1
         |), m$t AS (
         |  SELECT cent_id, i,
         |    round(CAST(sum(CAST(floor(x * 32768.0) AS BIGINT)) AS DOUBLE)
         |      / count(*) / 32768.0, 6) + 0.0 AS x FROM (
         |    SELECT cent_id, unnest(range(1, len(e) + 1)) AS i,
         |      unnest(e) AS x FROM a$t
         |  ) GROUP BY cent_id, i
         |), c$t AS (
         |  SELECT cent_id, ce,
         |    sqrt(list_sum(list_transform(ce, x -> x * x))) AS cn
         |  FROM (SELECT cent_id, list(x ORDER BY i) AS ce
         |        FROM m$t GROUP BY cent_id)
         |)""".stripMargin
    }
    b ++= s", cent AS (SELECT cent_id, ce, cn FROM c$iters)"
    b.toString
  }

  val defs: Seq[QueryDef] = Seq(
    // Exact brute-force top-5 neighbors for each query vector.
    QueryDef("q41_ann_topk",
      s"""WITH v AS (
         |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
         |  FROM embeddings
         |), n AS (
         |  SELECT vec_id, e, sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm FROM v
         |), scored AS (
         |  SELECT q.vec_id AS qid, c.vec_id,
         |    round(${cos("q.e", "c.e", "q.nrm", "c.nrm")}, 6) + 0.0 AS cos
         |  FROM n q JOIN n c ON q.vec_id < 8 AND c.vec_id <> q.vec_id
         |), ranked AS (
         |  SELECT qid, vec_id, cos,
         |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rank
         |  FROM scored
         |)
         |SELECT qid, vec_id, cos, rank FROM ranked WHERE rank <= 5
         |ORDER BY qid, rank""".stripMargin) { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 8), k = 5)
        .orderBy("qid", "rank")
    },

    // IVF-bucketed ANN: hash-seeded + Lloyd-refined centroids, argmax
    // assignment, 2-probe search — the whole index fully
    // oracle-replicated (trainCentroids included).
    QueryDef("q42_ann_ivf",
      s"""WITH v AS (
         |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
         |  FROM embeddings
         |), n AS (
         |  SELECT vec_id, e, sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm FROM v
         |), ${centroidCtes(nCent = 16, trainN = 128, iters = 2)}, assigned AS (
         |  SELECT vec_id, e, nrm, cent_id AS bucket FROM (
         |    SELECT c.vec_id, c.e, c.nrm, t.cent_id,
         |      row_number() OVER (PARTITION BY c.vec_id
         |        ORDER BY ${cos("c.e", "t.ce", "c.nrm", "t.cn")} DESC, t.cent_id) AS arank
         |    FROM n c CROSS JOIN cent t
         |  ) WHERE arank = 1
         |), probes AS (
         |  SELECT qid, qe, qn, cent_id AS bucket FROM (
         |    SELECT q.vec_id AS qid, q.e AS qe, q.nrm AS qn, t.cent_id,
         |      row_number() OVER (PARTITION BY q.vec_id
         |        ORDER BY ${cos("q.e", "t.ce", "q.nrm", "t.cn")} DESC, t.cent_id) AS prank
         |    FROM n q CROSS JOIN cent t WHERE q.vec_id < 8
         |  ) WHERE prank <= 2
         |), ranked AS (
         |  SELECT p.qid, a.vec_id,
         |    round(${cos("p.qe", "a.e", "p.qn", "a.nrm")}, 6) + 0.0 AS cos,
         |    row_number() OVER (PARTITION BY p.qid ORDER BY
         |      ${cos("p.qe", "a.e", "p.qn", "a.nrm")} DESC, a.vec_id) AS rank
         |  FROM assigned a JOIN probes p ON a.bucket = p.bucket
         |  WHERE a.vec_id <> p.qid
         |)
         |SELECT qid, vec_id, cos, rank FROM ranked WHERE rank <= 5
         |ORDER BY qid, rank""".stripMargin) { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      // Probe the session-persisted index (train + assign run once per
      // corpus, not once per query — the 100 TB shape).
      val idx = Similarity.sharedIvfIndex(emb, dir)
      Similarity.ivfTopK(idx, emb.filter(col("vec_id") < 8), k = 5)
        .orderBy("qid", "rank")
    },

    // Symmetric int8 scalar quantization of the embedding column with
    // per-vector scales — the memory-side half of ANN at 100 TB (4×
    // smaller vectors before any index sees them) — plus the
    // reconstruction-error profile that decides whether int8 is safe
    // for a given corpus. Pure per-row array arithmetic (codegen'd
    // transform/aggregate), no shuffle before the final sort; both
    // engines quantize with floor(x/scale + 0.5) so half-rounding
    // agrees bit-for-bit.
    QueryDef("q82_embedding_quantize",
      """WITH v AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        |  FROM embeddings
        |), s AS (
        |  SELECT vec_id, e,
        |    list_max(list_transform(e, x -> abs(x))) / 127.0 AS scale
        |  FROM v
        |), q AS (
        |  SELECT vec_id, e, scale,
        |    list_transform(e, x -> CASE WHEN scale = 0 THEN 0.0
        |      ELSE floor(x / scale + 0.5) END) AS qv
        |  FROM s
        |), err AS (
        |  SELECT vec_id, scale,
        |    list_transform(generate_series(1, len(e)),
        |      i -> abs(e[i] - qv[i] * scale)) AS ae
        |  FROM q
        |)
        |SELECT vec_id, round(scale, 9) + 0.0 AS scale,
        |  round(list_max(ae), 9) + 0.0 AS max_abs_err,
        |  round(list_sum(list_transform(ae, x -> x * x)) / len(ae), 12) + 0.0 AS mse
        |FROM err ORDER BY vec_id""".stripMargin) { (s, dir) =>
      // ONE fused codegen pass per vector (plans/QuantProfile — the
      // QuantSweep/SrpSketch pattern): the composed transform →
      // zip_with → aggregate chain ran four interpreted higher-order
      // folds per row (HOFs never enter whole-stage codegen — PERF
      // #T151 measured the same shape at 49×). Bit-parity with the
      // composed chain is QuantProfileSpec-pinned; hashes unchanged.
      import org.apache.spark.sql.graft.CatalystBridge
      Tables.embeddings(s, dir)
        .select(col("vec_id"),
          CatalystBridge.column(graft.plans.QuantProfile(
            CatalystBridge.expr(col("embedding")))).as("st"))
        .select(col("vec_id"),
          gf.roundz(col("st.scale"), 9).as("scale"),
          gf.roundz(col("st.max_abs_err"), 9).as("max_abs_err"),
          gf.roundz(col("st.mse"), 12).as("mse"))
        .orderBy("vec_id")
    },

    // T151 — quantization-WIDTH sweep: corpus MSE + max abs error of a
    // fixed-grid [-1, 1) uniform quantizer at 2/4/6/8 bits, ALL widths
    // from ONE corpus pass — the q169 survival-curve idea applied to
    // the vector path (re-encoding 100 TB of embeddings per candidate
    // width is a corpus pass each; the width decision against an
    // error budget should cost one). Complements q82 (which profiles
    // ONE int8 scheme per vector): this prices the width itself.
    // Determinism: the reconstruction is the IDENTICAL double
    // expression in both engines (same operation order), each
    // component's squared error quantizes ONCE to floor(err²·1e9+0.5)
    // exact longs (the q83 micro-long idiom — no raw-double sum
    // crosses a merge; floor(+0.5) because both engines compute it
    // identically and cheaply where a BigDecimal round would cost one
    // allocation per component), and max(|err|) is order-free. Scale
    // shape: the 4-width grid arithmetic is ONE fused codegen pass
    // per row (plans/QuantSweep — the composed 4-fold form measured
    // 49 s at sf10x vs 1.9 s for DuckDB's flat scan; higher-order
    // functions never enter whole-stage codegen), one 1-row global
    // aggregate, 4-row output.
    QueryDef("q171_quant_sweep", quantSweepSql) { (s, dir) =>
      import org.apache.spark.sql.graft.CatalystBridge
      val widths = graft.plans.QuantSweep.Bits.toSeq
      val perRow = Tables.embeddings(s, dir)
        .select(CatalystBridge.column(graft.plans.QuantSweep(
          CatalystBridge.expr(col("embedding")))).as("q"))
      val tot = perRow.agg(sum("q.n").as("n"),
        widths.flatMap(b =>
          Seq(sum(s"q.s$b").as(s"s$b"), max(s"q.m$b").as(s"m$b"))): _*)
      tot.select(explode(array(widths.map { b =>
          struct(lit(b).cast("long").as("bit_width"),
            col("n").as("n_components"),
            gf.roundz(col(s"s$b").cast("double") / col("n") / 1e9, 6).as("mse"),
            gf.roundz(col(s"m$b"), 6).as("max_abs_err"))
        }: _*)).as("r"))
        .select(col("r.bit_width"), col("r.n_components"), col("r.mse"),
          col("r.max_abs_err"))
        .orderBy("bit_width")
    },

    // T152 — embedding-norm OUTLIER census per label: q113's robust
    // MAD rule carried to the vector path — per label, the median
    // vector L2 norm, its MAD, and the count beyond 3·1.4826·MAD.
    // Degenerate (near-zero) and corrupt (blown-up) vectors are the
    // embedding-QA failures a robust location/scale pair catches that
    // a mean/stddev pair lets one giant vector hide; per-LABEL because
    // a class whose norms collapse is a training-signal loss invisible
    // in the global census. Norms are per-row sequential folds
    // (bit-equal across engines — the q47 nrm contract); medians are
    // value selections, so no cross-row double sum exists anywhere.
    // Scale shape: q113's exactly — histogram-refinement quantile
    // selection above the stats threshold (no per-key sort), path
    // pinned ONCE from the clean scan stats, medians broadcast.
    QueryDef("q172_vector_outliers",
      """WITH v AS (
        |  SELECT label, sqrt(list_sum(list_transform(embedding,
        |    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
        |  FROM embeddings
        |), med AS (
        |  SELECT label, median(nrm) AS med FROM v GROUP BY 1
        |), mad AS (
        |  SELECT v.label, median(abs(v.nrm - m.med)) AS mad
        |  FROM v JOIN med m USING (label) GROUP BY 1
        |)
        |SELECT v.label, CAST(count(*) AS BIGINT) AS n,
        |  round(m.med, 6) + 0.0 AS med, round(a.mad, 6) + 0.0 AS mad,
        |  CAST(sum(CASE WHEN abs(v.nrm - m.med) > 3 * 1.4826 * a.mad
        |                THEN 1 ELSE 0 END) AS BIGINT) AS outlier_cnt
        |FROM v JOIN med m USING (label) JOIN mad a USING (label)
        |GROUP BY v.label, m.med, a.mad
        |ORDER BY label""".stripMargin) { (s, dir) =>
      import graft.operators.{RobustStats, Similarity}
      // Persisted: the quantile chain scans this frame ~4× (median,
      // deviation, MAD, census) and each rescan would re-run the
      // 64-element norm fold per row — (label, nrm) is two scalars
      // per vector, the cheapest thing in the query to keep.
      val vPlain = Tables.embeddings(s, dir)
        .select(col("label"), Similarity.norm(
          transform(col("embedding"), x => x.cast("double"))).as("nrm"))
      val v = graft.CacheRegistry.persistTracked(vPlain,
        graft.CacheRegistry.DataSized)
      // Path decision from the PLAIN projection's stats (the q113
      // stance): an un-materialized InMemoryRelation reports its
      // child-plan estimate, which would misroute the choice.
      val useHistogram = RobustStats.decideHistogram(vPlain)
      // med/mad persist too (Bounded: ≤ one row per label): the final
      // census references each twice and mad's plan inlines med's —
      // without the persists Catalyst duplicates the whole quantile
      // subtree per reference (~4× med, measured 10 s at sf10x for a
      // 200 k-row input; with them the windows execute once).
      val med = graft.CacheRegistry.persistTracked(
        RobustStats.medianByKey(v, "label", "nrm", "med",
          histogram = useHistogram),
        graft.CacheRegistry.Bounded)
      val dev = v.join(broadcast(med), "label")
        .withColumn("_d", abs(col("nrm") - col("med")))
      val mad = graft.CacheRegistry.persistTracked(
        RobustStats.medianByKey(
          dev.select(col("label"), col("_d")), "label", "_d", "mad",
          histogram = useHistogram),
        graft.CacheRegistry.Bounded)
      v.join(broadcast(med), "label").join(broadcast(mad), "label")
        .groupBy("label", "med", "mad")
        .agg(count(lit(1)).as("n"),
          sum(when(abs(col("nrm") - col("med")) >
            lit(3.0) * lit(1.4826) * col("mad"), 1L).otherwise(0L))
            .as("outlier_cnt"))
        .select(col("label"), col("n"),
          gf.roundz(col("med"), 6).as("med"), gf.roundz(col("mad"), 6).as("mad"),
          col("outlier_cnt"))
        .orderBy("label")
    },

    // Per-label centroid cohesion — the embedding-space QA a pipeline
    // runs after clustering/semantic-dedup: positionwise label
    // centroids (rounded to 6 decimals in BOTH engines so every
    // downstream cosine starts from identical doubles), then each
    // vector's cosine to its own label centroid, aggregated per label.
    // Scale shape: the centroid pass is one (label, pos) aggregate
    // (#labels × dim rows — always tiny), centroids broadcast into a
    // per-row codegen'd dot product, one final per-label aggregate.
    // Determinism (the q130/T125 idiom): centroid components are
    // exact-long means of xq = floor(x·2^15) rounded once to 6 dp (so
    // every downstream cosine starts from identical doubles in both
    // engines), and the per-label cosine average accumulates exact
    // micro-units (round(cos·1e6) longs) — no raw-double sum ever
    // crosses a partition merge. min is order-free on the same micros.
    QueryDef("q83_label_centroid_cos",
      """WITH v AS (
        |  SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        |  FROM embeddings
        |), cm AS (
        |  SELECT label, i,
        |    round(CAST(sum(CAST(floor(e[i] * 32768.0) AS BIGINT)) AS DOUBLE)
        |      / count(*) / 32768.0, 6) + 0.0 AS x
        |  FROM v, unnest(generate_series(1, len(e))) AS g(i)
        |  GROUP BY label, i
        |), cent0 AS (
        |  SELECT label, list(x ORDER BY i) AS ce FROM cm GROUP BY label
        |), cent AS (
        |  SELECT label, ce,
        |    sqrt(list_sum(list_transform(ce, y -> y * y))) AS cn
        |  FROM cent0
        |), scored AS (
        |  SELECT v.vec_id, v.label,
        |    CAST(round(list_sum(list_transform(generate_series(1, len(v.e)),
        |        i -> v.e[i] * c.ce[i]))
        |      / (sqrt(list_sum(list_transform(v.e, x -> x * x))) * c.cn)
        |      * 1000000.0, 0) AS BIGINT) AS micro
        |  FROM v JOIN cent c ON v.label = c.label
        |)
        |SELECT label, count(*) AS n_vecs,
        |  round(CAST(sum(micro) AS DOUBLE) / count(*) / 1000000.0, 6) + 0.0 AS avg_cos,
        |  CAST(min(micro) AS DOUBLE) / 1000000.0 AS min_cos
        |FROM scored GROUP BY label ORDER BY label""".stripMargin) { (s, dir) =>
      val v = Tables.embeddings(s, dir)
        .select(col("vec_id"), col("label"),
          transform(col("embedding"), x => x.cast("double")).as("e"))
      val cent = v
        .select(col("label"), posexplode(col("e")).as(Seq("i", "x")))
        .groupBy("label", "i")
        .agg(gf.roundz(sum(floor(col("x") * lit(32768.0)).cast("long"))
          .cast("double") / count(lit(1)) / 32768.0, 6).as("x"))
        .groupBy("label")
        .agg(collect_list(struct(col("i"), col("x"))).as("pairs"))
        .select(col("label"),
          transform(array_sort(col("pairs")), p => p.getField("x")).as("ce"))
        .withColumn("cn", Similarity.norm(col("ce")))
      v.join(broadcast(cent), "label")
        .select(col("label"), round(
          Similarity.dot(col("e"), col("ce"))
            / (Similarity.norm(col("e")) * col("cn"))
            * 1000000.0, 0).cast("long").as("micro"))
        .groupBy("label")
        .agg(count(lit(1)).as("n_vecs"),
          gf.roundz(sum("micro").cast("double") / count(lit(1)) / 1000000.0, 6)
            .as("avg_cos"),
          (min("micro").cast("double") / 1000000.0).as("min_cos"))
        .orderBy("label")
    },

    // Embedding-dimension health profile: per-position mean / std /
    // min / max across the corpus — the QA view that catches dead
    // dimensions (std ≈ 0), saturated clamps (|min|=|max|=bound), and
    // mis-scaled encoders before ANN indexes are built over the
    // vectors. One posexplode + ONE pos-keyed aggregate with partial
    // aggregation upstream; output is dim-bounded (64 rows) no matter
    // the corpus size. Determinism (the q130/T125 idiom): mean/std
    // come from exact long moments of xq = floor(x·2^15) — raw-double
    // avg/stddev merge partials in task order and round(6) masks the
    // drift only probabilistically; min/max stay on raw doubles
    // (comparison-based, order-free exact).
    QueryDef("q93_embedding_dims",
      """WITH v AS (
        |  SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        |  FROM embeddings
        |), x AS (
        |  SELECT i - 1 AS pos, e[i] AS x,
        |    CAST(floor(e[i] * 32768.0) AS BIGINT) AS xq
        |  FROM v, unnest(generate_series(1, len(e))) AS g(i)
        |), m AS (
        |  SELECT pos, count(*) AS n, sum(xq) AS sx, sum(xq * xq) AS sxx,
        |    round(min(x), 6) + 0.0 AS vmin, round(max(x), 6) + 0.0 AS vmax
        |  FROM x GROUP BY pos
        |)
        |SELECT pos, n,
        |  round(CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) / 32768.0, 6) + 0.0 AS mean,
        |  round(sqrt((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)
        |      * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
        |    / CAST(n - 1 AS DOUBLE)) / 32768.0, 6) + 0.0 AS std,
        |  vmin, vmax
        |FROM m ORDER BY pos""".stripMargin) { (s, dir) =>
      Tables.embeddings(s, dir)
        .select(transform(col("embedding"), x => x.cast("double")).as("e"))
        .select(posexplode(col("e")).as(Seq("pos", "x")))
        .withColumn("xq", floor(col("x") * lit(32768.0)).cast("long"))
        .groupBy("pos")
        .agg(count(lit(1)).as("n"),
          sum("xq").as("sx"),
          sum(col("xq") * col("xq")).as("sxx"),
          gf.roundz(min("x"), 6).as("vmin"),
          gf.roundz(max("x"), 6).as("vmax"))
        .select(col("pos"), col("n"),
          gf.roundz(col("sx").cast("double") / col("n") / 32768.0, 6).as("mean"),
          gf.roundz(sqrt((col("sxx").cast("double") - col("sx").cast("double")
              * col("sx").cast("double") / col("n"))
            / (col("n") - 1)) / 32768.0, 6).as("std"),
          col("vmin"), col("vmax"))
        .orderBy("pos")
    },

    // T95 — full embedding covariance matrix in ONE pass
    // (plans/VecOuterSum via operators/Embeddings): q93 profiles each
    // dimension alone; correlated/redundant dimensions and collapsed
    // representations only show in the CROSS moments. The naive shape
    // (posexplode → self-join on vec_id → per-(i,j) moments, the
    // oracle below) shuffles N·dim² rows; the engine ships ONE O(dim²)
    // partial per partition (upper triangle, cell-wise-add merge) and
    // emits one row, so the reduction is a single map-side-combined
    // pass at any corpus size. Output is the dim-bounded upper
    // triangle (64 dims → 2 080 rows). Determinism: BOTH engines
    // quantize xq = floor(x·2^15) and accumulate n/Σxq/Σxq·xqᵀ as
    // exact longs, then derive cov with ONE shared final expression
    // ((Σxy − Σx·Σy/n)/(n−1)/2^30) — bit-identical at any layout /
    // merge order (the round-9 lesson: round(6) over raw-double
    // moments is a per-run coin, and it landed badly once).
    // Signed zero (the round-10 lesson): DuckDB's round keeps the
    // sign of a tiny negative (−0.0), Spark's BigDecimal round drops
    // it (+0.0) — one deterministic bit-mismatched cell. IEEE
    // round-to-nearest gives (−0.0) + 0.0 = +0.0, so BOTH engines
    // add 0.0 after the round to canonicalize the zero.
    QueryDef("q130_embedding_cov",
      """WITH v AS (
        |  SELECT vec_id, list_transform(embedding,
        |    x -> CAST(floor(CAST(x AS DOUBLE) * 32768.0) AS BIGINT)) AS q
        |  FROM embeddings
        |), x AS (
        |  SELECT vec_id, i - 1 AS i, q[i] AS x
        |  FROM v, unnest(generate_series(1, len(q))) AS g(i)
        |), m AS (
        |  SELECT a.i AS i, b.i AS j, count(*) AS n,
        |    sum(a.x) AS sa, sum(b.x) AS sb, sum(a.x * b.x) AS sab
        |  FROM x a JOIN x b ON a.vec_id = b.vec_id AND a.i <= b.i
        |  GROUP BY a.i, b.i
        |)
        |SELECT i, j,
        |  round((CAST(sab AS DOUBLE) - CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE)
        |      / CAST(n AS DOUBLE)) / CAST(n - 1 AS DOUBLE) / 1073741824.0,
        |    6) + 0.0 AS cov
        |FROM m ORDER BY i, j""".stripMargin) { (s, dir) =>
      Tables.embeddings(s, dir)
        .agg(graft.operators.Embeddings.covStatsCol(col("embedding")).as("st"))
        .select(col("st.dim").as("dim"),
          posexplode(col("st.cov")).as(Seq("idx", "c")))
        .select(expr("idx div dim").cast("int").as("i"),
          pmod(col("idx"), col("dim")).as("j"),
          gf.roundz(col("c"), 6).as("cov"))
        .filter(col("i") <= col("j"))
        .orderBy("i", "j")
    },

    // T137 — matryoshka truncation-quality census (Kusupati et al.
    // 2022, "Matryoshka Representation Learning" — public knowledge):
    // how much ANN quality survives if the engine scans only the
    // first d of 64 embedding dims? At 100 TB the prefix dim is the
    // single biggest IO lever on the vector path (d = 8 reads 1/8 of
    // the bytes BEFORE any index sees them), and this census is the
    // decision table: per prefix dim, recall@5 of the truncated
    // brute-force ranking against the full-dim reference plus the
    // full-space cosine of the truncated top-1 pick. One scored pass
    // (all four prefix cosines projected together — prefix dots are
    // sequential folds, so truncation costs nothing extra per row),
    // four bounded rank windows over the 8-query frame, exact-integer
    // overlap counts, micro-long top-1 averages (the q83 idiom).
    QueryDef("q158_matryoshka",
      matryoshkaSql(dims = Seq(8, 16, 32, 64), full = 64)) { (s, dir) =>
      import org.apache.spark.sql.expressions.{Window => W}
      val dims = Seq(8, 16, 32, 64)
      val v = Tables.embeddings(s, dir)
        .select(col("vec_id"),
          transform(col("embedding"), x => x.cast("double")).as("e"))
      val q = v.filter(col("vec_id") < 8)
        .select(col("vec_id").as("qid"), col("e").as("qe"))
      def cosD(d: Int) = {
        val a = slice(col("qe"), 1, d)
        val b = slice(col("e"), 1, d)
        Similarity.dot(a, b) / (Similarity.norm(a) * Similarity.norm(b))
      }
      val scored = graft.CacheRegistry.persistTracked(
        broadcast(q).join(v, col("vec_id") =!= col("qid"))
          .select(Seq(col("qid"), col("vec_id")) ++
            dims.map(d => cosD(d).as(s"cos$d")): _*),
        graft.CacheRegistry.DataSized) // Q-bounded: 8 × corpus rows
      // Top-5 per query via the sort-free heap operator, then rank the
      // ≤ 8×5 survivors with a window over that bounded frame (r16).
      // The old row_number window partitioned the CORPUS-sized scored
      // frame by the 8 query ids — at scale that is 8 single-task
      // full sorts per dim; the heap ships 5 rows per (task, query)
      // and the rank survives on the tiny frame with identical
      // (cos desc, vec_id asc) total order.
      val ranked = dims.map { d =>
        val top = graft.plans.TopKPerKey(scored, Seq("qid"),
          Seq(graft.plans.TopKPerKey.desc(s"cos$d"),
            graft.plans.TopKPerKey.asc("vec_id")), 5)
        val w = W.partitionBy("qid").orderBy(desc(s"cos$d"), asc("vec_id"))
        top.withColumn("r", row_number().over(w))
          .select(lit(d).as("dim"), col("qid"), col("vec_id"), col("r"),
            col("cos64").as("cos_full"))
      }.reduce(_ union _)
      val fullTop = ranked.filter(col("dim") === 64)
        .select(col("qid").as("fqid"), col("vec_id").as("fv"))
      ranked
        .join(fullTop, col("qid") === col("fqid") &&
          col("vec_id") === col("fv"), "left")
        .drop("fqid")
        .groupBy("dim")
        .agg(count(col("fv")).as("n_overlap"),
          gf.roundz(count(col("fv")).cast("double") / 40.0, 6).as("recall_at_5"),
          gf.roundz(sum(when(col("r") === 1,
              round(col("cos_full") * 1000000.0, 0).cast("long")))
            .cast("double") / 8.0 / 1000000.0, 6).as("avg_top1_full_cos"))
        .orderBy("dim")
    },

    // T140 — SRP binary-sketch fidelity census (Charikar 2002, random
    // hyperplane LSH — public knowledge): 32 sign bits of ±1
    // projections compress a 256-byte float vector to 4 bytes, and
    // Hamming distance estimates the angle — the embedding twin of
    // T3's text SimHash and the cheapest 100 TB pre-filter on the
    // vector path (xor + popcount on packed longs, pure integer
    // codegen, 64× less IO than the float scan). This census is the
    // fidelity table: per 4-bit Hamming band over the bounded query ×
    // corpus frame, how tightly does true cosine track the sketch?
    // Determinism: sign matrix from md5 literals in both plans, bit
    // decisions on EXACT LONG projections of floor(x·2^15) components
    // (a raw-double sum would flip the sign coin near zero), cosine
    // averaged via round(cos·1e6) micro-longs (the q83 idiom).
    QueryDef("q161_srp_sketch", srpSql) { (s, dir) =>
      val v = Tables.embeddings(s, dir)
        .select(col("vec_id"),
          transform(col("embedding"), x => x.cast("double")).as("e"))
        .withColumn("nrm", Similarity.norm(col("e")))
        .withColumn("sketch", graft.operators.Srp.sketch(col("e")))
      val q = v.select(col("vec_id").as("qid"), col("e").as("qe"),
        col("nrm").as("qn"), col("sketch").as("qs"))
        .filter(col("qid") < 8)
      val cosc = Similarity.dot(col("qe"), col("e")) / (col("qn") * col("nrm"))
      broadcast(q).join(v, col("vec_id") =!= col("qid"))
        .select(
          (bit_count(col("qs").bitwiseXOR(col("sketch"))) / lit(4))
            .cast("int").as("band"),
          gf.roundz(cosc, 6).as("cos"))
        .groupBy("band")
        .agg(count(lit(1)).as("n_pairs"),
          gf.roundz(sum(round(col("cos") * 1000000.0, 0).cast("long"))
            .cast("double") / count(lit(1)) / 1000000.0, 6).as("avg_cos"),
          gf.roundz(min("cos"), 6).as("min_cos"),
          gf.roundz(max("cos"), 6).as("max_cos"))
        .orderBy("band")
    },

    // Inter-label centroid separation matrix: pairwise cosine between
    // label centroids — q83's cohesion (how tight is each cluster)
    // paired with separation (how far apart the clusters sit), the
    // two numbers that together say whether a labeling/clustering is
    // usable for stratified sampling or semantic dedup. Centroids are
    // the same (label, pos) aggregate as q83, rounded to 6dp in both
    // engines; the pair join is over #labels rows — bounded, broadcast,
    // upper-triangle only.
    // Centroids use the same exact-long quantized means as q83 (the
    // q130/T125 determinism idiom); the pairwise cosine itself is a
    // bounded sequential fold over the 6-dp centroid components —
    // identical doubles in both engines, nothing merge-order-shaped.
    QueryDef("q97_label_separation",
      """WITH v AS (
        |  SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        |  FROM embeddings
        |), cm AS (
        |  SELECT label, i,
        |    round(CAST(sum(CAST(floor(e[i] * 32768.0) AS BIGINT)) AS DOUBLE)
        |      / count(*) / 32768.0, 6) + 0.0 AS x
        |  FROM v, unnest(generate_series(1, len(e))) AS g(i)
        |  GROUP BY label, i
        |), cent AS (
        |  SELECT label, ce, sqrt(list_sum(list_transform(ce, y -> y * y))) AS cn
        |  FROM (SELECT label, list(x ORDER BY i) AS ce FROM cm GROUP BY label)
        |)
        |SELECT a.label AS label_a, b.label AS label_b,
        |  round(list_sum(list_transform(generate_series(1, len(a.ce)),
        |      i -> a.ce[i] * b.ce[i])) / (a.cn * b.cn), 6) + 0.0 AS cos
        |FROM cent a JOIN cent b ON a.label < b.label
        |ORDER BY label_a, label_b""".stripMargin) { (s, dir) =>
      val v = Tables.embeddings(s, dir)
        .select(col("label"),
          transform(col("embedding"), x => x.cast("double")).as("e"))
      val cent = v
        .select(col("label"), posexplode(col("e")).as(Seq("i", "x")))
        .groupBy("label", "i")
        .agg(gf.roundz(sum(floor(col("x") * lit(32768.0)).cast("long"))
          .cast("double") / count(lit(1)) / 32768.0, 6).as("x"))
        .groupBy("label")
        .agg(collect_list(struct(col("i"), col("x"))).as("pairs"))
        .select(col("label"),
          transform(array_sort(col("pairs")), p => p.getField("x")).as("ce"))
        .withColumn("cn", Similarity.norm(col("ce")))
      val a = cent.select(col("label").as("label_a"), col("ce").as("ca"),
        col("cn").as("na"))
      val b = cent.select(col("label").as("label_b"), col("ce").as("cb"),
        col("cn").as("nb"))
      a.join(broadcast(b), col("label_a") < col("label_b"))
        .select(col("label_a"), col("label_b"),
          gf.roundz(Similarity.dot(col("ca"), col("cb"))
            / (col("na") * col("nb")), 6).as("cos"))
        .orderBy("label_a", "label_b")
    },

    // Multimodal metadata over binary payloads (decode stub tested in
    // MultimodalSpec; the byte-level plumbing is oracle-checked here).
    QueryDef("q43_media_meta",
      """SELECT doc_id AS media_id,
        |  octet_length(CAST(encode(text) AS BLOB)) AS n_bytes,
        |  md5(text) AS payload_md5,
        |  substr(hex(CAST(encode(text) AS BLOB)), 1, 8) AS head_hex
        |FROM documents ORDER BY media_id""".stripMargin) { (s, dir) =>
      implicit val sp = s
      Multimodal.mediaFromDocuments(Tables.documents(s, dir)).toDF()
        .select(
          col("media_id"),
          length(col("payload")).cast("long").as("n_bytes"),
          md5(col("payload")).as("payload_md5"),
          hex(substring(col("payload"), 1, 4)).as("head_hex"))
        .orderBy("media_id")
    },

    // KNN GRAPH (T71): top-5 approximate neighbors for EVERY vector —
    // the all-vectors generalization of q42 (whose query side is 8
    // pinned vectors). The oracle replicates the ENTIRE index again
    // (training CTEs included) with the probe filter dropped, so the
    // graph semantics — probe selection ties, in-bucket candidate set,
    // rank tie-breaks — are cross-engine-pinned, not just row-counted.
    // Engine side: query side is corpus-sized, so nothing broadcasts
    // and no windowed sort touches the candidate volume — probe top-2
    // and neighbor top-5 both run on TopKPerKey's bounded heap
    // (see Similarity.knnJoin).
    QueryDef("q114_knn_graph",
      s"""WITH v AS (
         |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
         |  FROM embeddings
         |), n AS (
         |  SELECT vec_id, e, sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm FROM v
         |), ${centroidCtes(nCent = 16, trainN = 128, iters = 2)}, assigned AS (
         |  SELECT vec_id, e, nrm, cent_id AS bucket FROM (
         |    SELECT c.vec_id, c.e, c.nrm, t.cent_id,
         |      row_number() OVER (PARTITION BY c.vec_id
         |        ORDER BY ${cos("c.e", "t.ce", "c.nrm", "t.cn")} DESC, t.cent_id) AS arank
         |    FROM n c CROSS JOIN cent t
         |  ) WHERE arank = 1
         |), probes AS (
         |  SELECT qid, qe, qn, cent_id AS bucket FROM (
         |    SELECT q.vec_id AS qid, q.e AS qe, q.nrm AS qn, t.cent_id,
         |      row_number() OVER (PARTITION BY q.vec_id
         |        ORDER BY ${cos("q.e", "t.ce", "q.nrm", "t.cn")} DESC, t.cent_id) AS prank
         |    FROM n q CROSS JOIN cent t
         |  ) WHERE prank <= 2
         |), ranked AS (
         |  SELECT p.qid, a.vec_id,
         |    round(${cos("p.qe", "a.e", "p.qn", "a.nrm")}, 6) + 0.0 AS cos,
         |    row_number() OVER (PARTITION BY p.qid ORDER BY
         |      round(${cos("p.qe", "a.e", "p.qn", "a.nrm")}, 6) DESC, a.vec_id) AS rank
         |  FROM assigned a JOIN probes p ON a.bucket = p.bucket
         |  WHERE a.vec_id <> p.qid
         |)
         |SELECT qid, vec_id, cos, rank FROM ranked WHERE rank <= 5
         |ORDER BY qid, rank""".stripMargin) { (s, dir) =>
      // Rides the session-materialized shared artifacts (r15): the
      // IVF index supplies centroids + rep (e, nrm, bucket) rows —
      // content-determined, so bit-identical to knnJoin's inline
      // training/assignment — and the embedding dup-group table
      // supplies (gid, __ids). Per run only knnJoinCollapsed's
      // probe/score/expand tail executes; the oracle pins the whole
      // chain unchanged.
      val (groups, _, _) = TextQueries.embDupCollapsed(s, dir)
      val idx = Similarity.sharedIvfIndex(Tables.embeddings(s, dir), dir)
      val repvec = s.table(idx.assignedTable)
        .join(groups.select("gid"), col("vec_id") === col("gid"))
        .drop("gid")
      Similarity.knnJoinCollapsed(groups.select(col("gid"), col("__ids")),
        repvec, s.table(idx.centroidTable), k = 5)
        .orderBy("qid", "rank")
    },

    // T120 — per-label embedding centroid drift between releases: the
    // embedding-space twin of q132's PSI (PSI asks "did the VALUE
    // distribution drift"; this asks "did the REPRESENTATION move") and
    // of q136's version diff (which counts rows; this measures the
    // geometry). Split on vec_id parity as the two releases, report
    // per-label centroid L2 shift and cosine — an embedding-model
    // regression gate before re-indexing 100 TB of vectors. Scale
    // shape: ONE posexplode pass collapses to the (label × dim)-bounded
    // conditional-centroid frame; everything after (shift/cosine sums,
    // the count join) runs on label/dim-bounded frames. Float sums are
    // rounded at 6 only at the output (the q93/q130 stance — the
    // cross-engine summation-order noise is ~1e-12 against O(0.01–1)
    // values).
    QueryDef("q144_embedding_drift",
      """WITH v AS (
        |  SELECT vec_id, label, vec_id % 2 AS half,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        |  FROM embeddings
        |), x AS (
        |  SELECT label, half, i - 1 AS pos, e[i] AS x
        |  FROM v, unnest(generate_series(1, len(e))) AS g(i)
        |), c AS (
        |  SELECT label, pos,
        |    avg(CASE WHEN half = 0 THEN x END) AS ca,
        |    avg(CASE WHEN half = 1 THEN x END) AS cb
        |  FROM x GROUP BY label, pos
        |), n AS (
        |  SELECT label,
        |    CAST(sum(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |    CAST(sum(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b
        |  FROM v GROUP BY label
        |)
        |SELECT c.label, n.n_a, n.n_b,
        |  round(sqrt(sum((ca - cb) * (ca - cb))), 6) + 0.0 AS l2_shift,
        |  round(sum(ca * cb)
        |    / (sqrt(sum(ca * ca)) * sqrt(sum(cb * cb))), 6) + 0.0 AS cos_sim
        |FROM c JOIN n ON c.label = n.label
        |GROUP BY c.label, n.n_a, n.n_b ORDER BY c.label""".stripMargin) {
      (s, dir) =>
      val v = Tables.embeddings(s, dir)
        .select(col("vec_id"), col("label"),
          (col("vec_id") % 2).as("half"),
          transform(col("embedding"), x => x.cast("double")).as("e"))
      val c = v
        .select(col("label"), col("half"), posexplode(col("e")).as(Seq("pos", "x")))
        .groupBy("label", "pos")
        .agg(avg(when(col("half") === 0, col("x"))).as("ca"),
          avg(when(col("half") === 1, col("x"))).as("cb"))
      val n = v.groupBy("label")
        .agg(sum(when(col("half") === 0, 1L).otherwise(0L)).as("n_a"),
          sum(when(col("half") === 1, 1L).otherwise(0L)).as("n_b"))
      c.join(n, "label")
        .groupBy("label", "n_a", "n_b")
        .agg(
          gf.roundz(sqrt(sum((col("ca") - col("cb")) * (col("ca") - col("cb")))), 6)
            .as("l2_shift"),
          gf.roundz(sum(col("ca") * col("cb"))
            / (sqrt(sum(col("ca") * col("ca")))
              * sqrt(sum(col("cb") * col("cb")))), 6).as("cos_sim"))
        .orderBy("label")
    },

    // T124 — DPR-style hard-negative mining (Karpukhin et al. 2020):
    // for each query vector, the top-5 most-similar corpus vectors
    // whose label DIFFERS from the query's — the "close but wrong"
    // rows contrastive retrieval training pairs against its positives
    // (random negatives are trivially far; the gradient signal lives
    // in near-misses). The label exclusion is a join predicate BELOW
    // the per-query rank, so same-label rows never enter the window —
    // and since a row shares its own label, self-exclusion is free.
    // Scale shape: exact variant is the broadcast-query × corpus scan
    // of q41 with the predicate fused into the same pass;
    // [[Similarity.hardNegativesIvf]] is the probed-bucket twin
    // (nprobe·√N scored rows per query at production sizing) with the
    // identical exclusion — `SimilaritySpec` pins its no-same-label
    // invariant and recall floor vs this exact oracle.
    QueryDef("q147_hard_negatives",
      s"""WITH v AS (
         |  SELECT vec_id, label,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
         |  FROM embeddings
         |), n AS (
         |  SELECT vec_id, label, e,
         |    sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm FROM v
         |), scored AS (
         |  SELECT q.vec_id AS qid, c.vec_id,
         |    round(${cos("q.e", "c.e", "q.nrm", "c.nrm")}, 6) + 0.0 AS cos
         |  FROM n q JOIN n c ON q.vec_id < 8 AND c.label <> q.label
         |), ranked AS (
         |  SELECT qid, vec_id, cos,
         |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rank
         |  FROM scored
         |)
         |SELECT qid, vec_id, cos, rank FROM ranked WHERE rank <= 5
         |ORDER BY qid, rank""".stripMargin) { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      Similarity.hardNegatives(emb, emb.filter(col("vec_id") < 8), k = 5)
        .orderBy("qid", "rank")
    },

    // T125 — distributed FULL-CORPUS Lloyd k-means census
    // (Lloyd 1957/1982): k=8, 3 fixed iterations, every row voting in
    // every update — the corpus-bucketing operator (SemDedup-style
    // cluster-then-dedup, topic sharding, stratified mixing), distinct
    // from q42's trainCentroids which fits on a bounded driver SAMPLE
    // (the index-build shape). The entire training loop is
    // oracle-replicated: md5-ordered seeds, (d2, cluster)-lexicographic
    // assignment, and 2^20 FIXED-POINT centroid sums — exact integer
    // arithmetic, so the model is bit-identical across engines,
    // layouts, and partitionings (the T112 gradient stance applied to
    // clustering). Census: per-cluster size + fixed-point-exact
    // inertia under the final model.
    QueryDef("q148_kmeans_census",
      s"""WITH v AS (
         |  SELECT vec_id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
         |  FROM embeddings
         |), ${kmeansCtes(k = 8, iters = 3)}
         |SELECT cl AS cluster, CAST(count(*) AS BIGINT) AS size,
         |  round(CAST(sum(CAST(floor(d2 * 1048576.0) AS BIGINT)) AS DOUBLE)
         |    / 1048576.0, 6) + 0.0 AS inertia
         |FROM ${kmeansAssignSql("c3")} GROUP BY cl
         |ORDER BY cluster""".stripMargin) { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val model = graft.operators.Embeddings.modelFor(emb,
        s"kmeans|$dir|8|3", k = 8, iters = 3)
      graft.operators.Embeddings.kmeansAssign(emb, model)
        .groupBy(col("cluster").cast("long").as("cluster"))
        .agg(count(lit(1)).as("size"),
          gf.roundz(sum(floor(col("d2") * graft.operators.Embeddings.KMeansScale))
            .cast("double") / graft.operators.Embeddings.KMeansScale, 6)
            .as("inertia"))
        .orderBy("cluster")
    },

    // T135 — nDCG@5 census (Järvelin & Kekäläinen 2002): the rank-
    // sensitive companion to q149's recall/MRR — binary relevance
    // (approx hit ∈ exact top-5), discounted by position. Rank weights
    // 1/ln(r+1) are EXACT LITERALS generated from one Scala constant
    // table and embedded in both engines' plans — no libm log at query
    // time, so cross-engine parity is by construction; the ideal DCG
    // is the same table's prefix sum. Same (queries × k)-bounded join
    // as q149.
    QueryDef("q157_ndcg",
      s"""WITH v AS (
         |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
         |  FROM embeddings
         |), n AS (
         |  SELECT vec_id, e, sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm FROM v
         |), exact_scored AS (
         |  SELECT q.vec_id AS qid, c.vec_id,
         |    round(${cos("q.e", "c.e", "q.nrm", "c.nrm")}, 6) + 0.0 AS cos
         |  FROM n q JOIN n c ON q.vec_id < 8 AND c.vec_id <> q.vec_id
         |), truth AS (
         |  SELECT qid, vec_id AS tid FROM (
         |    SELECT qid, vec_id, row_number() OVER (PARTITION BY qid
         |      ORDER BY cos DESC, vec_id) AS trank
         |    FROM exact_scored
         |  ) WHERE trank <= 5
         |), ${centroidCtes(nCent = 16, trainN = 128, iters = 2)}, assigned AS (
         |  SELECT vec_id, e, nrm, cent_id AS bucket FROM (
         |    SELECT c.vec_id, c.e, c.nrm, t.cent_id,
         |      row_number() OVER (PARTITION BY c.vec_id
         |        ORDER BY ${cos("c.e", "t.ce", "c.nrm", "t.cn")} DESC, t.cent_id) AS arank
         |    FROM n c CROSS JOIN cent t
         |  ) WHERE arank = 1
         |), probes AS (
         |  SELECT qid, qe, qn, cent_id AS bucket FROM (
         |    SELECT q.vec_id AS qid, q.e AS qe, q.nrm AS qn, t.cent_id,
         |      row_number() OVER (PARTITION BY q.vec_id
         |        ORDER BY ${cos("q.e", "t.ce", "q.nrm", "t.cn")} DESC, t.cent_id) AS prank
         |    FROM n q CROSS JOIN cent t WHERE q.vec_id < 8
         |  ) WHERE prank <= 2
         |), approx AS (
         |  SELECT qid, vec_id, arank FROM (
         |    SELECT p.qid, a.vec_id,
         |      row_number() OVER (PARTITION BY p.qid ORDER BY
         |        ${cos("p.qe", "a.e", "p.qn", "a.nrm")} DESC, a.vec_id) AS arank
         |    FROM assigned a JOIN probes p ON a.bucket = p.bucket
         |    WHERE a.vec_id <> p.qid
         |  ) WHERE arank <= 5
         |)
         |SELECT a.qid,
         |  round(($dcgDotSql) / $IdealDcg5, 6) + 0.0 AS ndcg_at_5
         |FROM approx a LEFT JOIN truth t
         |  ON a.qid = t.qid AND a.vec_id = t.tid
         |GROUP BY a.qid ORDER BY a.qid""".stripMargin) { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val queries = emb.filter(col("vec_id") < 8)
      val truth = Similarity.bruteForceTopK(emb, queries, k = 5)
        .select(col("qid"), col("vec_id").as("tid"))
      val idx = Similarity.sharedIvfIndex(emb, dir)
      val approx = Similarity.ivfTopK(idx, queries, k = 5)
        .select(col("qid"), col("vec_id"), col("rank").as("arank"))
      // Hits per rank as ORDER-FREE integer maxes, then ONE fixed-order
      // weighted expression — a runtime double SUM over hit weights
      // would be summation-order-dependent.
      val hitAggs = DcgWeights.indices.map { i =>
        max(when(col("arank") === (i + 1) && col("tid").isNotNull, 1L)
          .otherwise(0L)).as(s"_h${i + 1}")
      }
      val dcg = DcgWeights.zipWithIndex.map { case (wt, i) =>
        (col(s"_h${i + 1}") * wt): Column
      }.reduceLeft(_ + _)
      approx.join(truth,
          approx("qid") === truth("qid") && col("vec_id") === col("tid"),
          "left")
        .select(approx("qid"), col("tid"), col("arank"))
        .groupBy("qid")
        .agg(hitAggs.head, hitAggs.tail: _*)
        .select(col("qid"),
          gf.roundz(dcg / IdealDcg5, 6).as("ndcg_at_5"))
        .orderBy("qid")
    },

    // T126 — retrieval-quality evaluation census: recall@5 and MRR of
    // the IVF index against the exact scan, per query — the INDEX
    // QUALITY GATE. q41 is the ground truth, q42 the candidate; every
    // ANN deployment needs the measurement that says whether the
    // probe/nlist sizing still meets its recall contract after a
    // corpus release (q136/q144 say the DATA moved; this says whether
    // the INDEX still answers). Both pipelines and the metric
    // arithmetic are fully oracle-replicated; hits/ranks are integers,
    // so recall and reciprocal rank are single exact divisions.
    // Scale shape: ground truth at 100 TB comes from the same brute
    // scan on a SAMPLED query set (queries here are the 8-vector
    // probe side — bounded by construction); the join of the two
    // 5-row-per-query lists is (queries × k)-bounded.
    QueryDef("q149_retrieval_eval",
      s"""WITH v AS (
         |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
         |  FROM embeddings
         |), n AS (
         |  SELECT vec_id, e, sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm FROM v
         |), exact_scored AS (
         |  SELECT q.vec_id AS qid, c.vec_id,
         |    round(${cos("q.e", "c.e", "q.nrm", "c.nrm")}, 6) + 0.0 AS cos
         |  FROM n q JOIN n c ON q.vec_id < 8 AND c.vec_id <> q.vec_id
         |), truth AS (
         |  SELECT qid, vec_id AS tid, trank FROM (
         |    SELECT qid, vec_id, row_number() OVER (PARTITION BY qid
         |      ORDER BY cos DESC, vec_id) AS trank
         |    FROM exact_scored
         |  ) WHERE trank <= 5
         |), ${centroidCtes(nCent = 16, trainN = 128, iters = 2)}, assigned AS (
         |  SELECT vec_id, e, nrm, cent_id AS bucket FROM (
         |    SELECT c.vec_id, c.e, c.nrm, t.cent_id,
         |      row_number() OVER (PARTITION BY c.vec_id
         |        ORDER BY ${cos("c.e", "t.ce", "c.nrm", "t.cn")} DESC, t.cent_id) AS arank
         |    FROM n c CROSS JOIN cent t
         |  ) WHERE arank = 1
         |), probes AS (
         |  SELECT qid, qe, qn, cent_id AS bucket FROM (
         |    SELECT q.vec_id AS qid, q.e AS qe, q.nrm AS qn, t.cent_id,
         |      row_number() OVER (PARTITION BY q.vec_id
         |        ORDER BY ${cos("q.e", "t.ce", "q.nrm", "t.cn")} DESC, t.cent_id) AS prank
         |    FROM n q CROSS JOIN cent t WHERE q.vec_id < 8
         |  ) WHERE prank <= 2
         |), approx AS (
         |  SELECT qid, vec_id, arank FROM (
         |    SELECT p.qid, a.vec_id,
         |      row_number() OVER (PARTITION BY p.qid ORDER BY
         |        ${cos("p.qe", "a.e", "p.qn", "a.nrm")} DESC, a.vec_id) AS arank
         |    FROM assigned a JOIN probes p ON a.bucket = p.bucket
         |    WHERE a.vec_id <> p.qid
         |  ) WHERE arank <= 5
         |)
         |SELECT a.qid, CAST(count(t.tid) AS BIGINT) AS hits,
         |  round(CAST(count(t.tid) AS DOUBLE) / 5, 6) + 0.0 AS recall_at_5,
         |  round(coalesce(CAST(1 AS DOUBLE)
         |    / min(CASE WHEN t.trank = 1 THEN a.arank END), 0.0), 6) + 0.0 AS mrr
         |FROM approx a LEFT JOIN truth t
         |  ON a.qid = t.qid AND a.vec_id = t.tid
         |GROUP BY a.qid ORDER BY a.qid""".stripMargin) { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val queries = emb.filter(col("vec_id") < 8)
      val truth = Similarity.bruteForceTopK(emb, queries, k = 5)
        .select(col("qid"), col("vec_id").as("tid"), col("rank").as("trank"))
      val idx = Similarity.sharedIvfIndex(emb, dir)
      val approx = Similarity.ivfTopK(idx, queries, k = 5)
        .select(col("qid"), col("vec_id"), col("rank").as("arank"))
      approx.join(truth,
          approx("qid") === truth("qid") && col("vec_id") === col("tid"),
          "left")
        .select(approx("qid"), col("tid"), col("trank"), col("arank"))
        .groupBy("qid")
        .agg(count(col("tid")).as("hits"),
          gf.roundz(count(col("tid")).cast("double") / 5, 6).as("recall_at_5"),
          gf.roundz(coalesce(lit(1.0)
            / min(when(col("trank") === 1, col("arank"))), lit(0.0)), 6)
            .as("mrr"))
        .orderBy("qid")
    },

    // T170 — IVF NPROBE SWEEP census: recall@5 of the shared index at
    // nprobe ∈ {1, 2, 4, 8}, per query, ALL grid points from ONE
    // scored pass — the operating curve for the probe knob (q149
    // grades the production point nprobe = 2; this is the T149/T155
    // survival-curve stance applied to the ANN knob: picking nprobe
    // against a recall budget should cost one pass, not one index
    // probe per candidate setting). A candidate's probe rank is a
    // property of its (query, bucket), so filtering the ONE candidate
    // stream by prank ≤ p replays exactly what an nprobe = p search
    // would have scored; ranks run on the bounded-heap TopKPerKey per
    // (qid, p) — never a windowed sort of the candidate volume — and
    // the only emitted double is hits/5 (exact). Truth is the q41
    // brute scan over the bounded query set.
    QueryDef("q185_nprobe_sweep",
      s"""WITH v AS (
         |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
         |  FROM embeddings
         |), n AS (
         |  SELECT vec_id, e, sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm FROM v
         |), exact_scored AS (
         |  SELECT q.vec_id AS qid, c.vec_id,
         |    ${cos("q.e", "c.e", "q.nrm", "c.nrm")} AS cos
         |  FROM n q JOIN n c ON q.vec_id < 8 AND c.vec_id <> q.vec_id
         |), truth AS (
         |  SELECT qid, vec_id AS tid FROM (
         |    SELECT qid, vec_id, row_number() OVER (PARTITION BY qid
         |      ORDER BY cos DESC, vec_id) AS trank
         |    FROM exact_scored
         |  ) WHERE trank <= 5
         |), ${centroidCtes(nCent = 16, trainN = 128, iters = 2)}, assigned AS (
         |  SELECT vec_id, e, nrm, cent_id AS bucket FROM (
         |    SELECT c.vec_id, c.e, c.nrm, t.cent_id,
         |      row_number() OVER (PARTITION BY c.vec_id
         |        ORDER BY ${cos("c.e", "t.ce", "c.nrm", "t.cn")} DESC, t.cent_id) AS arank
         |    FROM n c CROSS JOIN cent t
         |  ) WHERE arank = 1
         |), probesall AS (
         |  SELECT qid, qe, qn, cent_id AS bucket, prank FROM (
         |    SELECT q.vec_id AS qid, q.e AS qe, q.nrm AS qn, t.cent_id,
         |      row_number() OVER (PARTITION BY q.vec_id
         |        ORDER BY ${cos("q.e", "t.ce", "q.nrm", "t.cn")} DESC, t.cent_id) AS prank
         |    FROM n q CROSS JOIN cent t WHERE q.vec_id < 8
         |  ) WHERE prank <= 8
         |), g(p) AS (VALUES (1), (2), (4), (8)
         |), ranked AS (
         |  SELECT qid, p, vec_id,
         |    row_number() OVER (PARTITION BY qid, p
         |      ORDER BY cos DESC, vec_id) AS rk
         |  FROM (
         |    SELECT p.qid, a.vec_id,
         |      ${cos("p.qe", "a.e", "p.qn", "a.nrm")} AS cos, p.prank
         |    FROM assigned a JOIN probesall p ON a.bucket = p.bucket
         |    WHERE a.vec_id <> p.qid
         |  ) CROSS JOIN g WHERE prank <= p
         |), top5 AS (
         |  SELECT qid, p, vec_id FROM ranked WHERE rk <= 5
         |)
         |SELECT t5.qid, CAST(t5.p AS BIGINT) AS nprobe,
         |  CAST(count(t.tid) AS BIGINT) AS hits,
         |  round(CAST(count(t.tid) AS DOUBLE) / 5, 6) + 0.0 AS recall_at_5
         |FROM top5 t5 LEFT JOIN truth t
         |  ON t5.qid = t.qid AND t5.vec_id = t.tid
         |GROUP BY t5.qid, t5.p
         |ORDER BY t5.qid, nprobe""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val emb = Tables.embeddings(s, dir)
      val queries = emb.filter(col("vec_id") < 8)
      val truth = Similarity.bruteForceTopK(emb, queries, k = 5)
        .select(col("qid").as("tqid"), col("vec_id").as("tid"))
      val idx = Similarity.sharedIvfIndex(emb, dir)
      val q = queries.select(col("vec_id").as("qid"),
          transform(col("embedding"), x => x.cast("double")).as("qe"))
        .withColumn("qn", Similarity.norm(col("qe")))
      val cent = s.table(idx.centroidTable)
      val qw = Window.partitionBy("qid").orderBy(desc("qsim"), asc("cent_id"))
      val probes = broadcast(q).join(broadcast(cent), lit(true))
        .withColumn("qsim",
          Similarity.dot(col("qe"), col("ce")) / (col("qn") * col("cn")))
        .withColumn("prank", row_number().over(qw))
        .filter(col("prank") <= 8)
        .select(col("qid"), col("qe"), col("qn"),
          col("cent_id").as("bucket"), col("prank"))
      val cosC = Similarity.dot(col("qe"), col("e")) / (col("qn") * col("nrm"))
      // ONE candidate stream; prank is a (query, bucket) property, so
      // the grid filter replays each nprobe setting exactly.
      val cand = s.table(idx.assignedTable)
        .join(broadcast(probes), Seq("bucket"))
        .filter(col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id"), cosC.as("cos"), col("prank"))
      val expanded = cand
        .withColumn("p", explode(array(Seq(1, 2, 4, 8).map(lit): _*)))
        .filter(col("prank") <= col("p"))
        .select("qid", "p", "vec_id", "cos")
      val top5 = graft.plans.TopKPerKey(expanded, Seq("qid", "p"),
        Seq(graft.plans.TopKPerKey.desc("cos"),
          graft.plans.TopKPerKey.asc("vec_id")), 5)
      top5.join(broadcast(truth),
          col("qid") === col("tqid") && col("vec_id") === col("tid"), "left")
        .groupBy("qid", "p")
        .agg(count(col("tid")).as("hits"),
          gf.roundz(count(col("tid")).cast("double") / 5, 6).as("recall_at_5"))
        .select(col("qid"), col("p").cast("long").as("nprobe"),
          col("hits"), col("recall_at_5"))
        .orderBy("qid", "nprobe")
    },

    // T129 — Davies–Bouldin cluster-quality census (Davies & Bouldin
    // 1979): per cluster of the q148 model, the mean member distance
    // (cohesion) and the DB score max_{j≠i} (s_i + s_j) / d_ij — the
    // internal validity measure that says whether k was RIGHT before
    // anything downstream trusts the buckets (completes the clustering
    // story: q148 fits, this grades). Scale shape: ONE corpus pass for
    // the per-cluster distance sums (accumulated as floor(√d2 · 2^20)
    // fixed-point longs — deterministic at any partitioning); the
    // centroid-pair frame is k × k ≤ 64 rows; everything else is
    // row-local arithmetic on k-bounded frames, and the √d2 doubles
    // follow the identical expression tree in both engines.
    QueryDef("q152_cluster_quality",
      s"""WITH v AS (
         |  SELECT vec_id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
         |  FROM embeddings
         |), ${kmeansCtes(k = 8, iters = 3)}, fin AS (
         |  SELECT cl, d2 FROM ${kmeansAssignSql("c3")}
         |), s AS (
         |  SELECT cl, CAST(count(*) AS BIGINT) AS size,
         |    CAST(sum(CAST(floor(sqrt(d2) * 1048576.0) AS BIGINT)) AS DOUBLE)
         |      / (count(*) * 1048576.0) AS s_i
         |  FROM fin GROUP BY cl
         |), cd AS (
         |  SELECT a.cl AS ca, b.cl AS cb,
         |    sqrt(${d2Sql("a.ce", "b.ce")}) AS d_ij
         |  FROM c3 a JOIN c3 b ON a.cl <> b.cl
         |)
         |SELECT s.cl AS cluster, s.size, round(s.s_i, 6) + 0.0 AS mean_dist,
         |  round(max((s.s_i + t.s_i) / cd.d_ij), 6) + 0.0 AS db_score
         |FROM s JOIN cd ON s.cl = cd.ca JOIN s t ON cd.cb = t.cl
         |GROUP BY s.cl, s.size, s.s_i
         |ORDER BY cluster""".stripMargin) { (s, dir) =>
      import graft.operators.Embeddings
      val emb = Tables.embeddings(s, dir)
      val model = Embeddings.modelFor(emb, s"kmeans|$dir|8|3", k = 8, iters = 3)
      val S = Embeddings.KMeansScale
      val sFrame = Embeddings.kmeansAssign(emb, model)
        .groupBy("cluster")
        .agg(count(lit(1)).as("size"),
          sum(floor(sqrt(col("d2")) * S)).as("sd"))
        .select(col("cluster"), col("size"),
          (col("sd").cast("double") / (col("size") * S)).as("s_i"))
      // Centroid-pair distances on a k-row frame built FROM the model,
      // with the same |a|² − 2a·b + |b|² expression shape (every term a
      // sequential fold) the oracle's d2Sql computes.
      val cents = {
        import s.implicits._
        model.centroids.toSeq
          .map { case (cl, ce) => (cl, ce.toSeq) }.toDF("cl", "ce")
      }
      val a = cents.select(col("cl").as("ca"), col("ce").as("cea"))
      val b = cents.select(col("cl").as("cb"), col("ce").as("ceb"))
      val dij = sqrt(Similarity.dot(col("cea"), col("cea"))
        - lit(2.0) * Similarity.dot(col("cea"), col("ceb"))
        + Similarity.dot(col("ceb"), col("ceb")))
      val cd = a.join(b, col("ca") =!= col("cb"))
        .select(col("ca"), col("cb"), dij.as("d_ij"))
      val t = sFrame.select(col("cluster").as("cb"), col("s_i").as("s_j"))
      sFrame.join(cd, col("cluster") === col("ca"))
        .join(t, "cb")
        .groupBy(col("cluster").cast("long").as("cluster"),
          col("size"), col("s_i"))
        .agg(gf.roundz(max((col("s_i") + col("s_j")) / col("d_ij")), 6)
          .as("db_score"))
        .select(col("cluster"), col("size"),
          gf.roundz(col("s_i"), 6).as("mean_dist"), col("db_score"))
        .orderBy("cluster")
    },

    // T165 — IVF APPEND-HEALTH census + rebuild trigger: after T161
    // appends (the vec_id % 7 = 0 slice ingested under the frozen
    // base-trained quantizer via the REAL appendToIndex), per-bucket
    // base/appended mass, load skew, and the documented rebuild policy
    // — the q149/q156 evaluation-gate stance applied to index
    // MAINTENANCE. Fully oracle-replicated: centroids train on the
    // base subset only (the q42 CTE chain with `n` = base), and
    // assigning base ∪ appends in ONE oracle pass ≡ the engine's
    // build-then-append (assignment under frozen centroids is a
    // per-vector content function). Every flag is exact integer
    // arithmetic; the two fractions are single int/int divisions.
    QueryDef("q182_ivf_append_health",
      s"""WITH v AS (
         |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
         |  FROM embeddings
         |), nall AS (
         |  SELECT vec_id, e, sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm FROM v
         |), n AS (
         |  SELECT * FROM nall WHERE vec_id % 7 <> 0
         |), ${centroidCtes(nCent = 16, trainN = 128, iters = 2)}, assigned AS (
         |  SELECT vec_id, cent_id AS bucket,
         |    CASE WHEN vec_id % 7 = 0 THEN 1 ELSE 0 END AS app FROM (
         |    SELECT c.vec_id, t.cent_id,
         |      row_number() OVER (PARTITION BY c.vec_id
         |        ORDER BY ${cos("c.e", "t.ce", "c.nrm", "t.cn")} DESC, t.cent_id) AS arank
         |    FROM nall c CROSS JOIN cent t
         |  ) WHERE arank = 1
         |), census AS (
         |  SELECT bucket, CAST(sum(1 - app) AS BIGINT) AS n_base,
         |    CAST(sum(app) AS BIGINT) AS n_app, count(*) AS n_total
         |  FROM assigned GROUP BY bucket
         |), nb AS (SELECT count(*) AS n_buckets FROM cent
         |), tot AS (
         |  SELECT CAST(sum(n_total) AS BIGINT) AS tot,
         |    CAST(sum(n_app) AS BIGINT) AS app_tot FROM census
         |), per AS (
         |  SELECT bucket, n_base, n_app, n_total,
         |    CASE WHEN n_total * n_buckets > 4 * tot THEN 1 ELSE 0 END AS flag_skew,
         |    CASE WHEN n_app * 10 >= 6 * n_total THEN 1 ELSE 0 END AS flag_stale,
         |    n_buckets, tot, app_tot
         |  FROM census CROSS JOIN nb CROSS JOIN tot
         |), gflag AS (
         |  SELECT CASE WHEN max(flag_skew) = 1 OR max(flag_stale) = 1
         |    OR max(app_tot) * 10 >= 3 * max(tot) THEN 1 ELSE 0 END AS rebuild
         |  FROM per
         |)
         |SELECT bucket, n_base, n_app, n_total,
         |  round(CAST(n_app AS DOUBLE) / n_total, 6) + 0.0 AS app_frac,
         |  round(CAST(n_total * n_buckets AS DOUBLE) / tot, 6) + 0.0 AS load_factor,
         |  CAST(flag_skew AS BIGINT) AS flag_skew,
         |  CAST(flag_stale AS BIGINT) AS flag_stale,
         |  CAST(rebuild AS BIGINT) AS rebuild
         |FROM per CROSS JOIN gflag
         |ORDER BY bucket""".stripMargin) { (s, dir) =>
      val (idx, bcTbl) = grownIvfIndexFor(s, dir)
      Similarity.appendHealth(idx, s.table(bcTbl))
    }
  )

  /** Session-memoized GROWN index for q182 (T165): the corpus splits
    * deterministically into base (vec_id % 7 ≠ 0, the trained
    * generation) and an append slice (% 7 = 0, ~14%); the index
    * actually LIVES the build→append lifecycle through the real
    * [[Similarity.buildIndex]] + [[Similarity.appendToIndex]] (T161)
    * under the `_g` grown-index naming — append-allowed, and
    * rebuild-on-corpus-change discards appends, which is safe here
    * because the appends are corpus-derived. The nlist-bounded base
    * census is collected PRE-append (≤ 16 rows) and written LAST as
    * `<name>_basecounts`: it is both appendHealth's trained-generation
    * reference and the memoization witness, so a crash anywhere in the
    * flow can never serve a half-grown index. */
  private[queries] def grownIvfIndexFor(
      s: org.apache.spark.sql.SparkSession, dir: String)
      : (Similarity.IvfIndex, String) = {
    val name = graft.sources.SharedTable.grownIndexName(s, "ivfgrown", dir)
    val bcTbl = s"${name}_basecounts"
    val idx = Similarity.IvfIndex(s"${name}_centroids", s"${name}_assigned")
    graft.sources.SharedTable.materialize(s,
        Seq(idx.centroidTable, idx.assignedTable, bcTbl)) {
      val emb = Tables.embeddings(s, dir)
      val built = Similarity.buildIndex(
        emb.filter(col("vec_id") % 7 =!= 0), name,
        nCentroids = 16, trainN = 128, iters = 2)
      val pre = s.table(built.assignedTable)
        .groupBy("bucket").agg(count(lit(1)).as("n_base"))
      val rows = pre.collect().toSeq // nlist-bounded (≤ 16 rows)
      Similarity.appendToIndex(built, emb.filter(col("vec_id") % 7 === 0))
      graft.sources.FileIO.writeWarehouseTable(
        s.createDataFrame(java.util.Arrays.asList(rows: _*), pre.schema),
        bcTbl)
    }
    (idx, bcTbl)
  }

  /** q157's DCG rank weights 1/ln(r+1), r = 1..5 — ONE constant table
    * (full-precision Double.toString literals) embedded in both
    * engines' plans, so no libm log runs at query time and parity is
    * by construction. `lazy`: referenced from `defs` above. */
  private lazy val DcgWeights: Seq[Double] =
    (1 to 5).map(r => 1.0 / math.log(r + 1.0))

  /** Σ of the weight-table prefix — the ideal DCG for 5 relevant
    * results (sequential fold, printed losslessly into the SQL). */
  private lazy val IdealDcg5: Double = DcgWeights.foldLeft(0.0)(_ + _)

  /** The fixed-order weighted hit expression: per-rank hits as
    * order-free integer MAXes, multiplied by the weight literals and
    * added left-to-right — matching the engine's projection exactly
    * (a runtime double SUM over hit weights would be summation-order-
    * dependent). */
  private lazy val dcgDotSql: String =
    DcgWeights.zipWithIndex.map { case (w, i) =>
      s"max(CASE WHEN a.arank = ${i + 1} AND t.tid IS NOT NULL " +
        s"THEN 1 ELSE 0 END) * $w"
    }.mkString(" + ")

  /** q148's squared-L2 in DuckDB — the exact expression shape
    * [[graft.operators.Embeddings.kmeansAssign]] computes:
    * |x|² − 2·x·c + |c|², every term a sequential left fold. */
  private def d2Sql(e: String, ce: String): String =
    s"""list_sum(list_transform($e, x -> x * x))
       | - 2 * list_sum(list_transform(generate_series(1, len($e)),
       |     i -> $e[i] * $ce[i]))
       | + list_sum(list_transform($ce, x -> x * x))""".stripMargin
      .replace("\n", " ")

  /** One assignment pass under centroid CTE `cTab`: rank-1 of
    * (d2 asc, cl asc) per vector — the struct-min twin. */
  private def kmeansAssignSql(cTab: String): String =
    s"""(SELECT vec_id, e, cl, d2 FROM (
       |  SELECT vec_id, e, cl, d2,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY d2, cl) AS rn
       |  FROM (SELECT v.vec_id, v.e, c.cl, ${d2Sql("v.e", "c.ce")} AS d2
       |        FROM v CROSS JOIN $cTab c)
       |) WHERE rn = 1)""".stripMargin

  /** DuckDB twin of [[graft.operators.Embeddings.kmeansFit]] as a
    * WITH-clause fragment (expects `v(vec_id, e)`; emits `c$iters`):
    * seeds = k smallest md5(vec_id) rows (cluster id = seed rank),
    * then `iters` unrolled Lloyd steps — assignment via
    * [[kmeansAssignSql]], centroid update from 2^20 fixed-point
    * BIGINT sums (exact integer arithmetic: any summation order
    * yields the same centroids the engine computed). Emptied clusters
    * drop, matching the engine. */
  private[queries] def kmeansCtes(k: Int, iters: Int): String = {
    val b = new StringBuilder
    b ++= s"""c0 AS (
       |  SELECT cl, e AS ce FROM (
       |    SELECT row_number() OVER (
       |        ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS cl, e
       |    FROM v
       |  ) WHERE cl < $k
       |)""".stripMargin
    for (t <- 1 to iters) {
      b ++= s""", a$t AS (
         |  SELECT vec_id, e, cl FROM ${kmeansAssignSql(s"c${t - 1}")}
         |), g$t AS (
         |  SELECT cl, CAST(count(*) AS BIGINT) AS n FROM a$t GROUP BY cl
         |), m$t AS (
         |  SELECT cl, i, sum(CAST(floor(x * 1048576.0) AS BIGINT)) AS sfx
         |  FROM (SELECT cl, unnest(generate_series(1, len(e))) AS i,
         |          unnest(e) AS x FROM a$t)
         |  GROUP BY cl, i
         |), c$t AS (
         |  SELECT m.cl AS cl,
         |    list(CAST(m.sfx AS DOUBLE) / (g.n * 1048576.0) ORDER BY m.i) AS ce
         |  FROM m$t m JOIN g$t g ON m.cl = g.cl GROUP BY m.cl
         |)""".stripMargin
    }
    b.toString
  }
}
