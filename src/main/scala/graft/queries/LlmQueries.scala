package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Tables

/** LLM-training-data pipeline operators over `documents` / `embeddings` —
  * the beyond-reference north-star surface (BASELINE.json): dedup,
  * near-dup LSH, similarity search, text analysis. Every query is
  * oracle-checked: hashing uses md5 (identical hex in Spark and DuckDB) and
  * floating-point reductions use an explicit left fold so both engines
  * produce bit-identical doubles.
  *
  * 100 TB design notes (per operator, see each entry):
  *   - nothing here is all-pairs: candidate generation is always a
  *     bucket/band equi-join, which shuffles on the band key and scales
  *     linearly in input + output-pair count;
  *   - per-doc work (shingling, minhashing, fingerprints) is map-side only;
  *   - the brute-force cosine scan exists as the correctness baseline for
  *     the LSH-bucketed variant, and broadcasts the query vector (never
  *     shuffles the embedding table).
  */
object LlmQueries {

  // ---- cross-dialect helpers ------------------------------------------
  /** Left-fold dot product over 64-dim float vectors, bit-identical in both
    * engines: same element order, same double promotion, same IEEE ops.
    */
  private def dotSpark(a: String, b: String): String =
    s"vec_dot($a, $b)"  // graft.functions.VectorDot — codegen'd, same fold
  private def dotDuck(a: String, b: String): String =
    s"list_reduce(list_transform(range(64), i -> $a[i+1]::DOUBLE * $b[i+1]::DOUBLE), " +
      s"(x, y) -> x + y)"

  /** The l12 trained-IVF query, emitted for BOTH dialects from one
    * template so the Lloyd's iterations cannot drift apart (VERDICT r6
    * #3: the quantizer must be TRAINED, not "first 8 vectors").
    *
    * Deterministic bounded spherical k-means, K=8, 2 update rounds:
    *   - seed-free init: stratum k = vec_id % 8, seed = min vec_id per
    *     stratum (no RNG; robust to id gaps);
    *   - assign: argmax cosine over the K centroids;
    *   - update: element-wise mean of the assigned embeddings, rounded
    *     to 6 dp and cast to float32 — the rounding collapses the
    *     engines' sum-order ulp noise, and the identical double→float32
    *     conversion makes every later dot product bit-identical again;
    *   - rounds are FIXED at 2 (both engines run the identical bounded
    *     algorithm, so the oracle matches by construction).
    *
    * 100 TB: each round is one broadcast-K assignment pass (map-side)
    * plus one (cell, dim) aggregation — 512 rows — and training runs
    * once offline; the serving path is unchanged IVF (broadcast K
    * centroids, probe nprobe/K of the corpus).
    */
  /** One Lloyd's assignment pass over `$src`: vec -> nearest-cosine cell.
    * Tie-break is deterministic and identical in both engines (ADVICE r7:
    * `max_by`/`arg_max` resolve exact-sim ties engine-dependently, and
    * DuckDB's arg_max rejects struct keys): row_number over
    * (sim DESC, cid) picks the LOWEST cid among max-sim centroids —
    * duplicate embeddings or 6-dp-rounded duplicate centroids can
    * produce such ties.
    */
  private def ivfAssign(spark: Boolean, name: String, src: String,
                        cFrom: String): String = {
    def dot(a: String, b: String) =
      if (spark) dotSpark(a, b) else dotDuck(a, b)
    s"""$name AS (
       |  SELECT vec_id, cid AS cell FROM (
       |    SELECT t.vec_id, t.cid, row_number() OVER (
       |      PARTITION BY t.vec_id ORDER BY t.sim DESC, t.cid) AS rn
       |    FROM (
       |      SELECT e.vec_id, c.cid,
       |        ${dot("e.embedding", "c.ce")}
       |          / (sqrt(${dot("e.embedding", "e.embedding")})
       |             * sqrt(${dot("c.ce", "c.ce")})) AS sim
       |      FROM $src e CROSS JOIN $cFrom c) t) r
       |  WHERE rn = 1
       |)""".stripMargin
  }

  /** One Lloyd's update pass: cell -> rounded float32 mean vector. */
  private def ivfUpdate(spark: Boolean, name: String, src: String,
                        aFrom: String): String =
    if (spark)
      s"""$name AS (
         |  SELECT cell AS cid,
         |    CAST(transform(array_sort(collect_list(struct(i, m))),
         |      x -> x.m) AS ARRAY<FLOAT>) AS ce
         |  FROM (
         |    SELECT a.cell, pos + 1 AS i, round(avg(CAST(v AS DOUBLE)), 6) AS m
         |    FROM $aFrom a JOIN $src e ON a.vec_id = e.vec_id
         |    LATERAL VIEW posexplode(e.embedding) t AS pos, v
         |    GROUP BY a.cell, pos) u
         |  GROUP BY cell
         |)""".stripMargin
    else
      s"""$name AS (
         |  SELECT cell AS cid, CAST(list(m ORDER BY i) AS FLOAT[]) AS ce
         |  FROM (
         |    SELECT a.cell, t.i, round(avg(e.embedding[t.i]::DOUBLE), 6) AS m
         |    FROM $aFrom a JOIN $src e ON a.vec_id = e.vec_id,
         |      range(1, 65) t(i)
         |    GROUP BY a.cell, t.i) u
         |  GROUP BY cell
         |)""".stripMargin

  /** The shared training chain (seeds -> c0 -> a0 -> c1 -> a1 -> c2) over
    * an arbitrary source relation — `embeddings` for l12's self-contained
    * form, a deterministic sample for l12b's offline index build. ONE
    * emitter for both engines and both entries, so the Lloyd's math can
    * never drift between Spark, DuckDB, l12 and l12b.
    */
  private def ivfTrainCtes(spark: Boolean, src: String): String = {
    // Stratify seeds by (vec_id div 4) % K, NOT vec_id % K: the l12b
    // training sample is `vec_id % 4 = 0`, and a % K stratum aligned with
    // the sampling modulus collapses the seed set (ids ≡ 0 mod 4 hit only
    // residues {0, 4} mod 8 — a silently 2-centroid quantizer). Dividing
    // out the sample stride first makes every stratum populated for both
    // the full corpus and the sample.
    val div = if (spark) "DIV" else "//"
    s"""seeds AS (
       |  SELECT (vec_id $div 4) % 8 AS cid, min(vec_id) AS sv
       |  FROM $src se GROUP BY (vec_id $div 4) % 8
       |), c0 AS (
       |  SELECT s.cid, e.embedding AS ce
       |  FROM seeds s JOIN $src e ON e.vec_id = s.sv
       |),
       |${ivfAssign(spark, "a0", src, "c0")},
       |${ivfUpdate(spark, "c1", src, "a0")},
       |${ivfAssign(spark, "a1", src, "c1")},
       |${ivfUpdate(spark, "c2", src, "a1")}""".stripMargin
  }

  private[graft] def ivfSql(spark: Boolean,
                            finalSelect: String = ""): String = {
    def dot(a: String, b: String) =
      if (spark) dotSpark(a, b) else dotDuck(a, b)
    s"""WITH ${ivfTrainCtes(spark, "embeddings")},
       |${ivfAssign(spark, "assigned", "embeddings", "c2")},
       |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
       |qcells AS (
       |  SELECT c.cid FROM q CROSS JOIN c2 c
       |  ORDER BY ${dot("q.qe", "c.ce")}
       |    / (sqrt(${dot("q.qe", "q.qe")}) * sqrt(${dot("c.ce", "c.ce")})) DESC,
       |    c.cid
       |  LIMIT 2
       |), cand AS (
       |  SELECT a.vec_id FROM assigned a JOIN qcells qc ON a.cell = qc.cid
       |  WHERE a.vec_id <> 0
       |), scored AS (
       |  SELECT e.vec_id,
       |    ${dot("e.embedding", "q.qe")}
       |      / (sqrt(${dot("e.embedding", "e.embedding")})
       |         * sqrt(${dot("q.qe", "q.qe")})) AS sim
       |  FROM embeddings e JOIN cand ON e.vec_id = cand.vec_id CROSS JOIN q
       |)
       |${if (finalSelect.nonEmpty) finalSelect
         else """SELECT vec_id, round(sim, 6) AS sim
                |FROM scored ORDER BY sim DESC, vec_id LIMIT 5""".stripMargin}""".stripMargin
  }

  /** l40 ANN nprobe auto-tuner — the FAISS-style serving-knob sweep, the
    * IVF counterpart of the l33b LSH tuner: over a fixed panel of query
    * vectors (vec_id ≡ 1 mod 100), measure recall@10 of the l12 IVF
    * index at nprobe ∈ {1,2,4,8} against the exact brute-force top-10,
    * and CHOOSE the cheapest nprobe meeting recall ≥ 0.9 (fewest probed
    * cells = fewest candidates scanned at serve time); if none reaches
    * it, the max-recall config wins. The whole sweep is ONE declarative
    * query in both engines, so the choice itself is oracle-gated.
    * 100 TB: the panel is fixed-size, so the exact-truth arm is one
    * corpus pass against a broadcast panel; the per-(query, nprobe)
    * top-10 windows partition on panel keys (bounded), never a global
    * sort. Production then serves at the chosen nprobe via the l34
    * persisted-index path.
    */
  /** l40's fixed query panel (vec_id ≡ 1 mod 100, the l33/l48 panel
    * discipline) as a standalone SELECT, shared by the inline oracle CTE
    * and the Spark entry's checkpointed stage.
    */
  private[graft] def annPanelSql: String =
    """SELECT vec_id AS qid, embedding AS qe FROM embeddings
      |  WHERE vec_id % 100 = 1""".stripMargin

  private def annPanelCtes(spark: Boolean): String =
    s"""qs AS (
       |  $annPanelSql
       |)""".stripMargin

  /** Exact-truth panel distances (panel × corpus cosine) — the expensive
    * arm of the l40 sweep, computed once per tune in the staged form.
    */
  private[graft] def annPanelSimsSql(spark: Boolean,
                                     inline: Boolean = false): String = {
    def dot(a: String, b: String) =
      if (spark) dotSpark(a, b) else dotDuck(a, b)
    def cos(a: String, b: String) =
      s"""${dot(a, b)}
         |      / (sqrt(${dot(a, a)}) * sqrt(${dot(b, b)}))""".stripMargin
    val qsrc = if (inline) "qs" else "l40_qs"
    s"""SELECT q.qid, e.vec_id,
       |    ${cos("e.embedding", "q.qe")} AS sim
       |  FROM embeddings e CROSS JOIN $qsrc q WHERE e.vec_id <> q.qid""".stripMargin
  }

  private[graft] def annNprobeTunerSql(spark: Boolean,
                                       recallTarget: Double = 0.9,
                                       staged: Boolean = false): String = {
    def dot(a: String, b: String) =
      if (spark) dotSpark(a, b) else dotDuck(a, b)
    def cos(a: String, b: String) =
      s"""${dot(a, b)}
         |      / (sqrt(${dot(a, a)}) * sqrt(${dot(b, b)}))""".stripMargin
    val np =
      if (spark) "np AS (SELECT * FROM VALUES (1),(2),(4),(8) AS np(np))"
      else "np AS (SELECT * FROM (VALUES (1),(2),(4),(8)) np(np))"
    // Staged form (Spark entry): the quantizer, the cell assignment, the
    // query panel and the exact-truth panel distances are materialized
    // ONCE behind localCheckpoints (l40_c2/l40_assigned/l40_qs/l40_sims)
    // — pre-r14 the inline WITH chain re-derived them per reference: 38
    // corpus scans for a 4-config sweep (VERDICT r13 #3). The sweep SQL
    // below is byte-identical either way; only the leaf relations differ.
    val lead =
      if (staged)
        // BROADCAST hints on the BOUNDED relations (guide §3.1): the
        // checkpointed views are LogicalRDDs with no stats, so Catalyst
        // assumes them huge and plans SortMergeJoin + Exchange for every
        // join touching them; c2 is k=8 centroids and qs the fixed query
        // panel — broadcast is the right plan at any corpus size (the
        // corpus-sized relations, assigned/sims, stay unhinted).
        """WITH c2 AS (SELECT /*+ BROADCAST(l40_c2) */ * FROM l40_c2),
          |assigned AS (SELECT * FROM l40_assigned),
          |qs AS (SELECT /*+ BROADCAST(l40_qs) */ * FROM l40_qs),
          |""".stripMargin + np + """, sims AS (
          |  SELECT * FROM l40_sims
          |), truth AS (""".stripMargin
      else
        s"""WITH ${ivfTrainCtes(spark, "embeddings")},
           |${ivfAssign(spark, "assigned", "embeddings", "c2")},
           |${annPanelCtes(spark)}, $np, sims AS (
           |  ${annPanelSimsSql(spark, inline = true)}
           |), truth AS (""".stripMargin
    s"""$lead
       |  SELECT qid, vec_id FROM (
       |    SELECT qid, vec_id, row_number() OVER (
       |      PARTITION BY qid ORDER BY sim DESC, vec_id) AS rn
       |    FROM sims) x
       |  WHERE rn <= 10
       |), crank AS (
       |  SELECT qid, cid, row_number() OVER (
       |    PARTITION BY qid ORDER BY csim DESC, cid) AS crk
       |  FROM (
       |    SELECT q.qid, c.cid,
       |      ${cos("q.qe", "c.ce")} AS csim
       |    FROM qs q CROSS JOIN c2 c) y
       |), cand AS (
       |${if (spark)
        // (crank × np) is |panel| × 4 rows — bounded; broadcast THAT
        // composite against corpus-sized `assigned` (the hint must name
        // the immediate join child, hence the aliased subquery)
        """  SELECT /*+ BROADCAST(cn) */ cn.qid, cn.np, a.vec_id
          |  FROM (SELECT cr.qid, np.np, cr.cid
          |        FROM crank cr JOIN np ON cr.crk <= np.np) cn
          |  JOIN assigned a ON a.cell = cn.cid
          |  WHERE a.vec_id <> cn.qid""".stripMargin
      else
        """  SELECT cr.qid, np.np, a.vec_id
          |  FROM crank cr JOIN np ON cr.crk <= np.np
          |  JOIN assigned a ON a.cell = cr.cid
          |  WHERE a.vec_id <> cr.qid""".stripMargin}
       |), ret AS (
       |  SELECT qid, np, vec_id FROM (
       |    SELECT c.qid, c.np, c.vec_id, row_number() OVER (
       |      PARTITION BY c.qid, c.np ORDER BY s.sim DESC, c.vec_id) AS rn
       |    FROM cand c JOIN sims s ON s.qid = c.qid AND s.vec_id = c.vec_id) x
       |  WHERE rn <= 10
       |), rec AS (
       |  SELECT ${if (spark) "/*+ BROADCAST(t) */ " else ""}r.np, count(t.vec_id) AS n_hit
       |  FROM ret r LEFT JOIN truth t
       |    ON t.qid = r.qid AND t.vec_id = r.vec_id
       |  GROUP BY r.np
       |), nq AS (
       |  SELECT count(*) AS n FROM qs
       |), scored AS (
       |  SELECT np.np, coalesce(rec.n_hit, 0) AS n_hit,
       |    CAST(coalesce(rec.n_hit, 0) AS DOUBLE) / (nq.n * 10) AS recall
       |  FROM np LEFT JOIN rec ON rec.np = np.np CROSS JOIN nq
       |), chosen AS (
       |  SELECT np FROM scored ORDER BY
       |    CASE WHEN recall >= $recallTarget THEN 0 ELSE 1 END,
       |    CASE WHEN recall >= $recallTarget THEN CAST(np AS DOUBLE)
       |         ELSE -recall END, np
       |  LIMIT 1
       |)
       |SELECT CAST(s.np AS INT) AS nprobe, CAST(s.n_hit AS BIGINT) AS n_hit,
       |  CAST(round(s.recall, 6) AS DOUBLE) AS recall,
       |  CAST(CASE WHEN s.np = (SELECT np FROM chosen) THEN 1 ELSE 0 END
       |       AS INT) AS chosen
       |FROM scored s ORDER BY s.np""".stripMargin
  }

  /** m05 joint image+caption near-dup — the CLIP/LAION-style pair-cleaning
    * census: candidate pairs surface from EITHER modality's banded index
    * (image aHash 4×16-bit bands, m04's scheme; caption MinHash 8×2 bands
    * at the l33b-chosen width) and every candidate is then CONFIRMED on
    * BOTH modalities (hamming ≤ 6 on the 64-bit aHash; bigram Jaccard
    * ≥ 0.3 on the caption). The output is the (found-by, confirmed-as)
    * census — image-only dups (same picture, rewritten caption), text-only
    * dups (same caption, different picture) and joint dups are exactly the
    * three buckets a multimodal curation pipeline treats differently.
    * Cap sentinels ride along per arm (has_img/has_txt = -1 rows), the
    * l02b/l11b no-silent-caps contract. 100 TB: both candidate arms are
    * banded bucket joins with caps (never all-pairs); the confirm joins
    * key on doc_id (the pair relation is band-bounded).
    * Spark's image hashes come from DECODED PNG pixels ([[graft.operators
    * .MultimodalOps.imageHashes]]); the oracle recomputes them in closed
    * form (m04's contract). Caption minhash runs at 16 hashes via the
    * codegen'd minhash_sigs; the oracle recomputes per-shingle md5 mins.
    */
  private[graft] def jointNeardupSql(spark: Boolean, imgCap: Int = 50,
                                     txtCap: Int = 64,
                                     src: String = "documents"): String = {
    val jac = (ga: String, gb: String) =>
      if (spark)
        s"""CAST(size(array_intersect($ga, $gb)) AS DOUBLE)
           |        / (size($ga) + size($gb) - size(array_intersect($ga, $gb)))""".stripMargin
      else
        s"""CAST(len(list_intersect($ga, $gb)) AS DOUBLE)
           |        / (len($ga) + len($gb) - len(list_intersect($ga, $gb)))""".stripMargin
    val hd =
      if (spark)
        """bit_count(ha.b0 ^ hb.b0) + bit_count(ha.b1 ^ hb.b1)
          |      + bit_count(ha.b2 ^ hb.b2) + bit_count(ha.b3 ^ hb.b3)""".stripMargin
      else
        """bit_count(xor(ha.b0, hb.b0)) + bit_count(xor(ha.b1, hb.b1))
          |      + bit_count(xor(ha.b2, hb.b2)) + bit_count(xor(ha.b3, hb.b3))""".stripMargin
    // image-hash relation: the decoded-pixel view on Spark, the m04
    // closed-form recompute on DuckDB
    val ih =
      if (spark)
        """ih AS (
          |  SELECT doc_id, b0, b1, b2, b3 FROM m05_hashes
          |)""".stripMargin
      else {
        val w = s"(32 + ${nib("md5(text)", 1)} % 8)"
        val h = s"(32 + ${nib("md5(text)", 2)} % 8)"
        val a = s"(1 + ${nib("md5(text)", 3)})"
        val b = s"(1 + ${nib("md5(text)", 4)})"
        val q = s"(1 + ${nib("md5(text)", 5)} % 4)"
        s"""ip AS (
           |  SELECT doc_id, $w AS w, $h AS h, $a AS a, $b AS b, $q AS q,
           |    doc_id % 3 AS c
           |  FROM $src
           |), ipx AS (
           |  SELECT doc_id, j.j * 8 + i.i AS idx,
           |    (((i.i * w) // 8) * a + ((j.j * h) // 8) * b
           |      + ((i.i * w) // 8) * ((j.j * h) // 8) * q + c) % 251 AS lum
           |  FROM ip, range(8) i(i), range(8) j(j)
           |), itot AS (
           |  SELECT doc_id, sum(lum) AS t FROM ipx GROUP BY doc_id
           |), ibw AS (
           |  SELECT ipx.doc_id, (63 - idx) // 16 AS k,
           |    CAST(sum(CASE WHEN lum * 64 > t THEN 1 ELSE 0 END
           |      * (1 << ((63 - idx) % 16))) AS BIGINT) AS sig
           |  FROM ipx JOIN itot USING (doc_id) GROUP BY 1, 2
           |), ih AS (
           |  SELECT doc_id,
           |    max(CASE WHEN k = 0 THEN sig END) AS b0,
           |    max(CASE WHEN k = 1 THEN sig END) AS b1,
           |    max(CASE WHEN k = 2 THEN sig END) AS b2,
           |    max(CASE WHEN k = 3 THEN sig END) AS b3
           |  FROM ibw GROUP BY doc_id
           |)""".stripMargin
      }
    // image bands off the hash relation
    val ib =
      if (spark)
        """ib AS (
          |  SELECT doc_id, b AS k,
          |    CASE b WHEN 0 THEN b0 WHEN 1 THEN b1 WHEN 2 THEN b2 ELSE b3 END AS sig
          |  FROM ih LATERAL VIEW explode(sequence(0, 3)) t AS b
          |)""".stripMargin
      else
        """ib AS (
          |  SELECT doc_id, k.k AS k,
          |    CASE k.k WHEN 0 THEN b0 WHEN 1 THEN b1 WHEN 2 THEN b2 ELSE b3 END AS sig
          |  FROM ih CROSS JOIN range(4) k(k)
          |)""".stripMargin
    // caption minhash bands: 16 hashes, 8 bands × 2 (the l33b winner)
    val tb =
      if (spark) {
        val bandPairs = (0 until 8)
          .map(j => s"concat(hs[${2 * j}], hs[${2 * j + 1}])").mkString(", ")
        s"""tmh AS (
           |  SELECT doc_id, minhash_sigs(text, 3, 16) AS hs
           |  FROM $src WHERE size(split(text, ' ')) >= 3
           |), tb AS (
           |  SELECT doc_id, posexplode(array($bandPairs)) AS (band, sig)
           |  FROM tmh
           |)""".stripMargin
      } else {
        val mh = (0 until 16).map { i =>
          s"min(substr(md5(s || '#$i'), 1, 8)) AS h$i"
        }.mkString(",\n    ")
        val bandRows = (0 until 8).map(j =>
          s"SELECT doc_id, $j AS band, h${2 * j} || h${2 * j + 1} AS sig FROM tmh")
          .mkString("\n  UNION ALL\n  ")
        s"""ttoks AS (
           |  SELECT doc_id, string_split(text, ' ') AS t FROM $src
           |  WHERE len(string_split(text, ' ')) >= 3
           |), tsh AS (
           |  SELECT doc_id, unnest(list_transform(range(len(t) - 2),
           |    i -> array_to_string(t[i+1:i+3], ' '))) AS s
           |  FROM ttoks
           |), tmh AS (
           |  SELECT doc_id,
           |    $mh
           |  FROM tsh GROUP BY doc_id
           |), tb AS (
           |  $bandRows
           |)""".stripMargin
      }
    val grams =
      if (spark)
        s"""g AS (
           |  SELECT doc_id, array_distinct(word_ngrams(text, 2)) AS gr
           |  FROM $src WHERE size(split(text, ' ')) >= 2
           |)""".stripMargin
      else
        s"""g AS (
           |  SELECT doc_id,
           |    list_distinct(list_transform(range(len(string_split(text, ' ')) - 1),
           |      i -> array_to_string((string_split(text, ' '))[i+1:i+2], ' '))) AS gr
           |  FROM $src WHERE len(string_split(text, ' ')) >= 2
           |)""".stripMargin
    s"""WITH $ih, $ib, $tb, $grams, ie AS (
       |  SELECT k, sig FROM ib GROUP BY k, sig HAVING count(*) <= $imgCap
       |), icapped AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n FROM (
       |    SELECT k, sig FROM ib GROUP BY k, sig HAVING count(*) > $imgCap) c
       |), icand AS (
       |  SELECT DISTINCT a.doc_id AS d1, b2.doc_id AS d2
       |  FROM ib a JOIN ie e ON a.k = e.k AND a.sig = e.sig
       |  JOIN ib b2 ON a.k = b2.k AND a.sig = b2.sig AND a.doc_id < b2.doc_id
       |), te AS (
       |  SELECT band, sig FROM tb GROUP BY band, sig HAVING count(*) <= $txtCap
       |), tcapped AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n FROM (
       |    SELECT band, sig FROM tb GROUP BY band, sig
       |    HAVING count(*) > $txtCap) c
       |), tcand AS (
       |  SELECT DISTINCT a.doc_id AS d1, b2.doc_id AS d2
       |  FROM tb a JOIN te e ON a.band = e.band AND a.sig = e.sig
       |  JOIN tb b2 ON a.band = b2.band AND a.sig = b2.sig
       |    AND a.doc_id < b2.doc_id
       |), cand AS (
       |  SELECT d1, d2, max(isrc) AS has_img, max(tsrc) AS has_txt FROM (
       |    SELECT d1, d2, 1 AS isrc, 0 AS tsrc FROM icand
       |    UNION ALL
       |    SELECT d1, d2, 0 AS isrc, 1 AS tsrc FROM tcand
       |  ) u GROUP BY d1, d2
       |), conf AS (
       |  SELECT c.has_img, c.has_txt,
       |    CASE WHEN $hd <= 6 THEN 1 ELSE 0 END AS img_dup,
       |    CASE WHEN ga.gr IS NOT NULL AND gb.gr IS NOT NULL
       |      AND ${jac("ga.gr", "gb.gr")} >= 0.3
       |      THEN 1 ELSE 0 END AS txt_dup
       |  FROM cand c
       |  JOIN ih ha ON ha.doc_id = c.d1
       |  JOIN ih hb ON hb.doc_id = c.d2
       |  LEFT JOIN g ga ON ga.doc_id = c.d1
       |  LEFT JOIN g gb ON gb.doc_id = c.d2
       |)
       |SELECT CAST(has_img AS INT) AS has_img, CAST(has_txt AS INT) AS has_txt,
       |  CAST(img_dup AS INT) AS img_dup, CAST(txt_dup AS INT) AS txt_dup,
       |  CAST(count(*) AS BIGINT) AS n_pairs
       |FROM conf GROUP BY has_img, has_txt, img_dup, txt_dup
       |UNION ALL
       |SELECT -1, 0, 0, 0, n FROM icapped
       |UNION ALL
       |SELECT 0, -1, 0, 0, n FROM tcapped
       |ORDER BY has_img, has_txt, img_dup, txt_dup""".stripMargin
  }

  /** l41 data card — the per-source composition funnel every curated
    * training set ships with (dataset cards / C4-style curation reports):
    * raw docs/tokens per source, then survivors through each pipeline
    * stage IN SEQUENCE — exact dedup (l01's min-id-per-content-hash
    * rule), eval-set decontamination (l19's gram rule at n=5 against the
    * src0/src1 eval sources — 3-grams mark 424/450 fixture docs
    * contaminated, a vacuous funnel; 5-grams mark 5, measured), quality
    * filter (≥ 30 words and ≥ 40% distinct — stated in integer math so
    * both engines compare exactly; fixture distinct-ratio median is 0.47,
    * so the cut is discriminative, not degenerate) —
    * with final token counts. One corpus pass computes every flag: the
    * dedup rank is one shuffle on the content hash, contamination is the
    * broadcast eval-gram semi-join, quality is map-side; the funnel
    * aggregate is one shuffle on source. 100 TB: no stage materializes an
    * intermediate corpus — the funnel is flags multiplied inside one
    * aggregation pass.
    */
  private[graft] def dataCardSql(spark: Boolean): String = {
    val nw = if (spark) "size(split(text, ' '))" else "len(string_split(text, ' '))"
    val ndw = if (spark) "size(array_distinct(split(text, ' ')))"
              else "len(list_distinct(string_split(text, ' ')))"
    val evGrams =
      if (spark)
        """SELECT DISTINCT g FROM documents
          |  LATERAL VIEW explode(array_distinct(word_ngrams(text, 5))) t AS g
          |  WHERE source IN ('src0', 'src1')""".stripMargin
      else
        """SELECT DISTINCT unnest(list_distinct(list_transform(
          |    range(len(string_split(text, ' ')) - 4),
          |    i -> array_to_string((string_split(text, ' '))[i+1:i+5], ' ')))) AS g
          |  FROM documents WHERE source IN ('src0', 'src1')""".stripMargin
    val trGrams =
      if (spark)
        """SELECT doc_id, g FROM docs
          |  LATERAL VIEW explode(array_distinct(word_ngrams(text, 5))) t AS g""".stripMargin
      else
        """SELECT doc_id, unnest(list_distinct(list_transform(
          |    range(len(string_split(text, ' ')) - 4),
          |    i -> array_to_string((string_split(text, ' '))[i+1:i+5], ' ')))) AS g
          |  FROM docs""".stripMargin
    s"""WITH docs AS (
       |  SELECT doc_id, source, text, $nw AS nw, $ndw AS ndw
       |  FROM documents WHERE source NOT IN ('src0', 'src1')
       |), dedup AS (
       |  SELECT min(doc_id) AS doc_id
       |  FROM (SELECT doc_id, md5(lower(text)) AS k FROM docs) h
       |  GROUP BY k
       |), ev AS (
       |  $evGrams
       |), tr AS (
       |  $trGrams
       |), contaminated AS (
       |  SELECT DISTINCT tr.doc_id FROM tr JOIN ev ON tr.g = ev.g
       |), flags AS (
       |  SELECT d.source, d.nw,
       |    CASE WHEN dd.doc_id IS NOT NULL THEN 1 ELSE 0 END AS kd,
       |    CASE WHEN c.doc_id IS NULL THEN 1 ELSE 0 END AS cl,
       |    CASE WHEN d.nw >= 30 AND d.ndw * 10 >= 4 * d.nw THEN 1 ELSE 0 END AS q
       |  FROM docs d
       |  LEFT JOIN dedup dd ON dd.doc_id = d.doc_id
       |  LEFT JOIN contaminated c ON c.doc_id = d.doc_id
       |)
       |SELECT source,
       |  CAST(count(*) AS BIGINT) AS n_raw,
       |  CAST(sum(nw) AS BIGINT) AS tok_raw,
       |  CAST(sum(kd) AS BIGINT) AS n_dedup,
       |  CAST(sum(kd * cl) AS BIGINT) AS n_decontam,
       |  CAST(sum(kd * cl * q) AS BIGINT) AS n_final,
       |  CAST(sum(kd * cl * q * nw) AS BIGINT) AS tok_final
       |FROM flags GROUP BY source ORDER BY source""".stripMargin
  }

  /** l44 quality-classifier training — a logistic regressor learned by
    * batch gradient descent over text-statistic features, the fastText-
    * style quality model LLM curation pipelines train to replace
    * hand-written rules. Labels are the l41 quality rule (the model
    * learns to mimic it; the confusion counts show the fit improving).
    * Cross-engine exactness is the l30/l37 decimal discipline: the
    * per-doc sigmoid rounds to 9 dp, each gradient contribution rounds
    * to 9 dp and sums as DECIMAL (order-independent), and the weight
    * update is plain double arithmetic on the correctly-rounded sums —
    * so the Spark driver loop and the oracle's unrolled scalar-CTE
    * iterations compute bit-identical weights. 100 TB: each iteration
    * is ONE map-side pass (features + sigmoid + contributions) into a
    * single 1-row aggregate; weights travel as literals/1-row cross
    * joins — nothing corpus-sized ever shuffles.
    */
  private[graft] object QualityLr {
    val Lr = 2.0
    val Iters = 10
    /** Raw features f1 = words/100, f2 = f1² (the length BAND the l41
      * rule carves is not linearly separable without it), f3 = distinct
      * ratio, f4 = mean word length / 10; label = the l41 quality rule.
      * Features are then STANDARDIZED (z-score) — without it, full-batch
      * GD on these scales oscillates and never beats the majority class
      * (measured: 0.556 stuck vs 0.79 standardized). Moments use the
      * decimal discipline — a raw double avg() is partition-order-
      * dependent in Spark and would diverge from DuckDB.
      */
    def featuresCte(spark: Boolean, carry: Seq[String] = Nil,
                    hint: String = ""): String = {
      val nw = if (spark) "size(split(text, ' '))" else "len(string_split(text, ' '))"
      val ndw = if (spark) "size(array_distinct(split(text, ' ')))"
                else "len(list_distinct(string_split(text, ' ')))"
      // `carry` threads doc attributes (e.g. source) through raw → f for
      // consumers that group the scored rows; Nil emits the exact l44 CTE.
      val carryRaw = carry.map(c => s"$c, ").mkString
      val carryF = carry.map(c => s"r.$c AS $c, ").mkString
      def dsum(e: String) =
        s"CAST(sum(CAST(round($e, 9) AS DECIMAL(20, 12))) AS DECIMAL(38, 12))"
      val moments = (1 to 4).flatMap(j => Seq(
        s"${dsum(s"f$j")} AS s$j", s"${dsum(s"f$j * f$j")} AS q$j"))
        .mkString(",\n    ")
      val standardize = (1 to 4).map(j =>
        s"(r.f$j - CAST(st.s$j AS DOUBLE) / st.n) / " +
          s"sqrt(CAST(st.q$j AS DOUBLE) / st.n - " +
          s"(CAST(st.s$j AS DOUBLE) / st.n) * (CAST(st.s$j AS DOUBLE) / st.n)) AS x$j")
        .mkString(",\n    ")
      s"""raw AS (
         |  SELECT ${carryRaw}CAST(nw AS DOUBLE) / 100 AS f1,
         |    (CAST(nw AS DOUBLE) / 100) * (CAST(nw AS DOUBLE) / 100) AS f2,
         |    CAST(ndw AS DOUBLE) / nw AS f3,
         |    CAST(length(replace(text, ' ', '')) AS DOUBLE) / (10 * nw) AS f4,
         |    CASE WHEN nw >= 30 AND ndw * 10 >= 4 * nw THEN 1 ELSE 0 END AS y
         |  FROM (SELECT ${carryRaw}text, $nw AS nw, $ndw AS ndw
         |        FROM (SELECT $hint * FROM documents)) d
         |  WHERE nw > 0
         |), st AS (
         |  SELECT $moments,
         |    CAST(count(*) AS BIGINT) AS n
         |  FROM raw
         |), f AS (
         |  SELECT $carryF$standardize, r.y AS y
         |  FROM raw r CROSS JOIN st
         |)""".stripMargin
    }
    /** p = sigmoid(w·x) rounded to 9 dp; `w` are SQL expressions. */
    def p9(b: String, w1: String, w2: String, w3: String, w4: String): String =
      s"round(1 / (1 + exp(-($b + $w1 * x1 + $w2 * x2 + $w3 * x3 + $w4 * x4))), 9)"
    /** The raw feature expressions inlined over a bare `text` column —
      * the same double ops as the raw CTE, for consumers (the streaming
      * scorer) that have no CTE to ride. Order matches f1..f4.
      */
    def rawFeatureExprs: Seq[String] = Seq(
      "CAST(size(split(text, ' ')) AS DOUBLE) / 100",
      "(CAST(size(split(text, ' ')) AS DOUBLE) / 100) * " +
        "(CAST(size(split(text, ' ')) AS DOUBLE) / 100)",
      "CAST(size(array_distinct(split(text, ' '))) AS DOUBLE) / " +
        "size(split(text, ' '))",
      "CAST(length(replace(text, ' ', '')) AS DOUBLE) / " +
        "(10 * size(split(text, ' ')))")
    /** sigmoid over EXPLICIT standardized-feature expressions (the
      * frozen-moment streaming face of p9). */
    def pExprOver(b: String, w: Seq[String], xs: Seq[String]): String = {
      val dot = w.zip(xs).map { case (wj, xj) => s"$wj * ($xj)" }
        .mkString(" + ")
      s"round(1 / (1 + exp(-($b + $dot))), 9)"
    }
    /** decimal gradient sum for feature expression `xj`. */
    def gsum(p: String, xj: String): String =
      s"""CAST(sum(CAST(round(($p - y) * $xj, 9) AS DECIMAL(20, 12)))
         |      AS DECIMAL(38, 12))""".stripMargin
    def confusion(p: String): String =
      s"""CAST(sum(CASE WHEN $p >= 0.5 AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
         |  CAST(sum(CASE WHEN $p >= 0.5 AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
         |  CAST(sum(CASE WHEN $p < 0.5 AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tn,
         |  CAST(sum(CASE WHEN $p < 0.5 AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fn""".stripMargin
  }

  /** The l44 oracle: the same 3 GD iterations unrolled — weights ride as
    * 1-row CTEs (w0 literal zeros; wN+1 = wN − CAST(gN AS DOUBLE)/n),
    * gradients/confusions cross-join the weight row.
    */
  private[graft] def qualityLrOracleSql(iters: Int = 3): String = {
    import QualityLr._
    val sb = new StringBuilder
    sb ++= s"WITH ${featuresCte(spark = false)}, nn AS (\n"
    sb ++= "  SELECT CAST(count(*) AS BIGINT) AS n FROM f\n"
    sb ++= "), w0 AS (\n  SELECT CAST(0 AS DOUBLE) AS b, CAST(0 AS DOUBLE) AS w1,\n" +
           "    CAST(0 AS DOUBLE) AS w2, CAST(0 AS DOUBLE) AS w3,\n" +
           "    CAST(0 AS DOUBLE) AS w4\n)"
    for (k <- 0 until iters) {
      val p = p9("w.b", "w.w1", "w.w2", "w.w3", "w.w4")
      sb ++= s""", c$k AS (
                |  SELECT ${confusion(p)}
                |  FROM f CROSS JOIN w$k w
                |), g$k AS (
                |  SELECT ${gsum(p, "1")} AS gb, ${gsum(p, "x1")} AS g1,
                |    ${gsum(p, "x2")} AS g2, ${gsum(p, "x3")} AS g3,
                |    ${gsum(p, "x4")} AS g4
                |  FROM f CROSS JOIN w$k w
                |), w${k + 1} AS (
                |  SELECT w.b - CAST(g.gb AS DOUBLE) / nn.n AS b,
                |    w.w1 - CAST(g.g1 AS DOUBLE) / nn.n AS w1,
                |    w.w2 - CAST(g.g2 AS DOUBLE) / nn.n AS w2,
                |    w.w3 - CAST(g.g3 AS DOUBLE) / nn.n AS w3,
                |    w.w4 - CAST(g.g4 AS DOUBLE) / nn.n AS w4
                |  FROM w$k w CROSS JOIN g$k g CROSS JOIN nn
                |)""".stripMargin
    }
    val rows = (0 until iters).map { k =>
      s"""SELECT CAST($k AS INTEGER) AS step,
         |  CAST(round(w.b, 6) AS DOUBLE) AS b,
         |  CAST(round(w.w1, 6) AS DOUBLE) AS w1,
         |  CAST(round(w.w2, 6) AS DOUBLE) AS w2,
         |  CAST(round(w.w3, 6) AS DOUBLE) AS w3,
         |  CAST(round(w.w4, 6) AS DOUBLE) AS w4,
         |  c.tp, c.fp, c.tn, c.fn
         |FROM w$k w CROSS JOIN c$k c""".stripMargin
    }.mkString("\nUNION ALL\n")
    sb ++= s"\nSELECT * FROM (\n$rows\n) u ORDER BY step"
    sb.toString
  }

  /** The l44 GD loop, driver-side: one 1-row aggregate per iteration
    * (gradients + confusion), weights updated in plain doubles. Shared
    * by l44 (reports the per-step trace) and l44b (applies the trained
    * model corpus-wide). Returns (per-step rows, final weights).
    */
  private[graft] def qualityLrTrain(s: SparkSession, iters: Int = 3)
      : (Seq[(Int, Double, Double, Double, Double, Double,
              Long, Long, Long, Long)],
         (Double, Double, Double, Double, Double)) = {
    import QualityLr._
    var w = (0.0, 0.0, 0.0, 0.0, 0.0)
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(Int, Double, Double, Double, Double, Double, Long, Long, Long, Long)]
    for (k <- 0 until iters) {
      val p = p9(w._1.toString, w._2.toString, w._3.toString,
        w._4.toString, w._5.toString)
      val r = s.sql(
        s"""WITH ${featuresCte(spark = true, hint = Tables.spreadHint(s))}
           |SELECT ${gsum(p, "1")} AS gb, ${gsum(p, "x1")} AS g1,
           |  ${gsum(p, "x2")} AS g2, ${gsum(p, "x3")} AS g3,
           |  ${gsum(p, "x4")} AS g4,
           |  CAST(count(*) AS BIGINT) AS n,
           |  ${confusion(p)}
           |FROM f""".stripMargin).head()
      out += ((k, w._1, w._2, w._3, w._4, w._5,
        r.getLong(6), r.getLong(7), r.getLong(8), r.getLong(9)))
      val n = r.getLong(5).toDouble
      w = (w._1 - r.getDecimal(0).doubleValue / n,
        w._2 - r.getDecimal(1).doubleValue / n,
        w._3 - r.getDecimal(2).doubleValue / n,
        w._4 - r.getDecimal(3).doubleValue / n,
        w._5 - r.getDecimal(4).doubleValue / n)
    }
    (out.toSeq, w)
  }

  /** l44b corpus filter census from the trained classifier: score every
    * document with the step-`iters` weights, census per source — docs,
    * kept (p ≥ 0.5), agreement with the l41 heuristic label, average
    * score. The production FineWeb-style shape: TRAIN once (l44), then
    * one map-side scoring pass over the whole corpus — at 100 TB the
    * weights ride as literals (Spark) / a 1-row cross join (oracle),
    * the census is a per-source partial aggregate, nothing corpus-sized
    * shuffles. Weights round to 9 dp on BOTH sides before scoring so
    * the decimal→double conversion paths (BigDecimal.doubleValue vs
    * SQL CAST) cannot diverge at the sigmoid's 9-dp rounding boundary.
    */
  private[graft] def qualityApplyCensus(p: String, from: String): String =
    s"""SELECT source, CAST(count(*) AS BIGINT) AS n,
       |  CAST(sum(CASE WHEN $p >= 0.5 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_keep,
       |  CAST(sum(CASE WHEN (CASE WHEN $p >= 0.5 THEN 1 ELSE 0 END) = y
       |    THEN 1 ELSE 0 END) AS BIGINT) AS n_agree,
       |  CAST(round(CAST(sum(CAST($p AS DECIMAL(20, 12))) AS DOUBLE)
       |    / count(*), 6) AS DOUBLE) AS avg_p
       |FROM $from GROUP BY source ORDER BY source""".stripMargin

  private[graft] def round9(x: Double): Double =
    BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** The l44b oracle: re-derive the step-3 weights with the same
    * unrolled CTE chain as qualityLrOracleSql (gradients only — no
    * per-step confusion needed), then run the identical scoring census.
    */
  private[graft] def qualityLrApplyOracleSql(iters: Int = 3): String = {
    import QualityLr._
    val sb = new StringBuilder
    sb ++= s"WITH ${featuresCte(spark = false, carry = Seq("source"))}, nn AS (\n"
    sb ++= "  SELECT CAST(count(*) AS BIGINT) AS n FROM f\n"
    sb ++= "), w0 AS (\n  SELECT CAST(0 AS DOUBLE) AS b, CAST(0 AS DOUBLE) AS w1,\n" +
           "    CAST(0 AS DOUBLE) AS w2, CAST(0 AS DOUBLE) AS w3,\n" +
           "    CAST(0 AS DOUBLE) AS w4\n)"
    for (k <- 0 until iters) {
      val p = p9("w.b", "w.w1", "w.w2", "w.w3", "w.w4")
      sb ++= s""", g$k AS (
                |  SELECT ${gsum(p, "1")} AS gb, ${gsum(p, "x1")} AS g1,
                |    ${gsum(p, "x2")} AS g2, ${gsum(p, "x3")} AS g3,
                |    ${gsum(p, "x4")} AS g4
                |  FROM f CROSS JOIN w$k w
                |), w${k + 1} AS (
                |  SELECT w.b - CAST(g.gb AS DOUBLE) / nn.n AS b,
                |    w.w1 - CAST(g.g1 AS DOUBLE) / nn.n AS w1,
                |    w.w2 - CAST(g.g2 AS DOUBLE) / nn.n AS w2,
                |    w.w3 - CAST(g.g3 AS DOUBLE) / nn.n AS w3,
                |    w.w4 - CAST(g.g4 AS DOUBLE) / nn.n AS w4
                |  FROM w$k w CROSS JOIN g$k g CROSS JOIN nn
                |)""".stripMargin
    }
    val p = p9(s"round(w.b, 9)", "round(w.w1, 9)", "round(w.w2, 9)",
      "round(w.w3, 9)", "round(w.w4, 9)")
    sb ++= "\n" + qualityApplyCensus(p, s"f CROSS JOIN w$iters w")
    sb.toString
  }

  /** l45 Gopher-style quality-rule census (Rae et al. 2021 §A1.1's
    * rule-filter family, re-parameterized to this corpus's measured
    * distributions so every rule has real variance): per source, how
    * many docs pass each rule and all of them —
    *   r_len: 30 ≤ words ≤ 200,
    *   r_mwl: mean word length in [3.0, 4.8],
    *   r_ttr: type-token ratio ≥ 0.45,
    *   r_rep: max single-token share ≤ 1/8 (repetition),
    *   r_sw : ≥ 6 of the corpus's own top-8 tokens present (the
    *          stopword-presence rule with the corpus's function words).
    * Every threshold is integer cross-multiplication — no float compare
    * crosses engines. 100 TB: one explode + per-doc aggregate (shuffle
    * on doc_id), the top-8 list is a global tree-aggregate broadcast
    * back as an 8-row join; census is a per-source partial aggregate.
    */
  private[graft] def gopherRulesSql(spark: Boolean): String = {
    val nw = if (spark) "size(split(text, ' '))" else "len(string_split(text, ' '))"
    val ndw = if (spark) "size(array_distinct(split(text, ' ')))"
              else "len(list_distinct(string_split(text, ' ')))"
    val words =
      if (spark) "SELECT doc_id, explode(split(text, ' ')) AS w FROM documents"
      else "SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents"
    s"""WITH d AS (
       |  SELECT doc_id, source, nw, ndw, nc
       |  FROM (SELECT doc_id, source, $nw AS nw, $ndw AS ndw,
       |          length(replace(text, ' ', '')) AS nc
       |        FROM documents) x
       |  WHERE nw > 0
       |), t AS (
       |  $words
       |), tc AS (
       |  SELECT doc_id, w, CAST(count(*) AS BIGINT) AS c
       |  FROM t GROUP BY doc_id, w
       |), top8 AS (
       |  SELECT w FROM (
       |    SELECT w, count(*) AS c FROM t GROUP BY w
       |    ORDER BY c DESC, w LIMIT 8) z
       |), mx AS (
       |  SELECT doc_id, max(c) AS mx, CAST(sum(c) AS BIGINT) AS n
       |  FROM tc GROUP BY doc_id
       |), sw AS (
       |  SELECT tc.doc_id, CAST(count(*) AS BIGINT) AS h
       |  FROM tc JOIN top8 ON tc.w = top8.w GROUP BY tc.doc_id
       |), flags AS (
       |  SELECT d.source, d.nw,
       |    CASE WHEN d.nw >= 30 AND d.nw <= 200 THEN 1 ELSE 0 END AS r_len,
       |    CASE WHEN d.nc * 10 >= 30 * d.nw AND d.nc * 10 <= 48 * d.nw
       |      THEN 1 ELSE 0 END AS r_mwl,
       |    CASE WHEN d.ndw * 20 >= 9 * d.nw THEN 1 ELSE 0 END AS r_ttr,
       |    CASE WHEN m.mx * 8 <= m.n THEN 1 ELSE 0 END AS r_rep,
       |    CASE WHEN coalesce(s.h, 0) >= 6 THEN 1 ELSE 0 END AS r_sw
       |  FROM d JOIN mx m ON d.doc_id = m.doc_id
       |  LEFT JOIN sw s ON d.doc_id = s.doc_id
       |)
       |SELECT source, CAST(count(*) AS BIGINT) AS n,
       |  CAST(sum(r_len) AS BIGINT) AS n_len,
       |  CAST(sum(r_mwl) AS BIGINT) AS n_mwl,
       |  CAST(sum(r_ttr) AS BIGINT) AS n_ttr,
       |  CAST(sum(r_rep) AS BIGINT) AS n_rep,
       |  CAST(sum(r_sw) AS BIGINT) AS n_sw,
       |  CAST(sum(r_len * r_mwl * r_ttr * r_rep * r_sw) AS BIGINT) AS n_keep,
       |  CAST(sum(r_len * r_mwl * r_ttr * r_rep * r_sw * nw) AS BIGINT)
       |    AS tok_keep
       |FROM flags GROUP BY source ORDER BY source""".stripMargin
  }

  /** The l24 cluster assignment alone (specs brute-force the dedup rule
    * in Scala from these assignments plus raw embeddings).
    */
  private[graft] def semDedupAssignSql(spark: Boolean): String =
    s"""WITH ${ivfTrainCtes(spark, "embeddings")},
       |${ivfAssign(spark, "assigned", "embeddings", "c2")}
       |SELECT vec_id, cell FROM assigned""".stripMargin

  /** l24 SemDeDup, one emitter for both dialects: cluster with the SAME
    * trained quantizer as l12 (ivfTrainCtes — identical Lloyd's math in
    * both engines), then within-cell pairwise cosine with the id-ordered
    * pair join, drop rule = exists lower-id neighbor at round(sim,6) ≥ τ.
    * Output is the per-cell keep/drop census — small, stable, and
    * sensitive to any clustering or similarity drift.
    */
  private[graft] def semDedupSql(spark: Boolean, tau: Double = 0.4): String = {
    def dot(a: String, b: String) =
      if (spark) dotSpark(a, b) else dotDuck(a, b)
    s"""WITH ${ivfTrainCtes(spark, "embeddings")},
       |${ivfAssign(spark, "assigned", "embeddings", "c2")},
       |v AS (
       |  SELECT a.cell, e.vec_id, e.embedding,
       |    sqrt(${dot("e.embedding", "e.embedding")}) AS nrm
       |  FROM assigned a JOIN embeddings e ON a.vec_id = e.vec_id
       |), dropped AS (
       |  SELECT y.cell, y.vec_id
       |  FROM v x JOIN v y ON x.cell = y.cell AND x.vec_id < y.vec_id
       |  WHERE round(${dot("x.embedding", "y.embedding")}
       |          / (x.nrm * y.nrm), 6) >= $tau
       |  GROUP BY y.cell, y.vec_id
       |)
       |SELECT v.cell, CAST(count(*) AS BIGINT) AS n_vecs,
       |  CAST(count(d.vec_id) AS BIGINT) AS n_dropped
       |FROM v LEFT JOIN dropped d
       |  ON v.cell = d.cell AND v.vec_id = d.vec_id
       |GROUP BY v.cell ORDER BY v.cell""".stripMargin
  }

  /** l25 exact substring-span dedup, one emitter for both dialects
    * (Lee et al. 2021's suffix-array exact dedup, re-expressed as the
    * distributed fixed-window form): W=40-char windows at stride S=10 are
    * hashed per doc; cross-doc equal windows join on the hash; within a
    * doc pair, matches on the SAME diagonal (o2 − o1 constant — the two
    * texts advancing together) with consecutive o1 merge into one
    * duplicated span of count·S + (W−S) chars; pairs report their longest
    * span and span count at ≥ 80 chars. Boilerplate windows appearing in
    * more than `capDocs` docs are excluded from pair generation and
    * COUNTED in the (-1, -1) sentinel row — the l02b/l11b no-silent-caps
    * contract. 100 TB: one shuffle on the window hash, pair fan-out
    * bounded by the cap, the run-merge is a per-pair-diagonal window
    * function — never a global sort, never all-pairs.
    *
    * Known approximation (spec-pinned): both docs window at absolute
    * stride-S offsets, so a shared region is detected iff its
    * displacement between the two docs is ≡ 0 (mod S) — the fixture's
    * near-dup corpus is (shared prefixes), and exact-duplicate docs
    * always are (displacement 0). The exact-at-any-displacement
    * production path is content-defined sampling — winnowing, which l16
    * implements — feeding the same diagonal merge.
    */
  private[graft] def substringSpanSql(spark: Boolean, hint: String = "",
                                      capDocs: Int = 50,
                                      src: String = "documents"): String = {
    val w =
      if (spark)
        s"""w AS (
           |  SELECT doc_id, wnd.off AS off, wnd.h AS h
           |  FROM (SELECT $hint doc_id, text FROM $src
           |        WHERE length(text) >= 40) d
           |  LATERAL VIEW explode(transform(
           |    sequence(0, CAST(floor((length(text) - 40) / 10) AS INT)),
           |    i -> named_struct('off', i * 10,
           |                      'h', md5(substr(text, 1 + i * 10, 40))))) t AS wnd
           |)""".stripMargin
      else
        s"""w AS (
           |  SELECT doc_id, i * 10 AS off, md5(substr(text, 1 + i * 10, 40)) AS h
           |  FROM (
           |    SELECT doc_id, text,
           |      unnest(range(0, CAST(floor((length(text) - 40) / 10) AS BIGINT) + 1)) AS i
           |    FROM $src WHERE length(text) >= 40) d
           |)""".stripMargin
    s"""WITH $w, eligible AS (
       |  SELECT h FROM w GROUP BY h HAVING count(DISTINCT doc_id) <= $capDocs
       |), capped AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n FROM (
       |    SELECT h FROM w GROUP BY h HAVING count(DISTINCT doc_id) > $capDocs) c
       |), m AS (
       |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2,
       |    b.off - a.off AS diag, a.off AS o1
       |  FROM w a JOIN eligible g ON a.h = g.h
       |           JOIN w b ON a.h = b.h AND a.doc_id < b.doc_id
       |), runs AS (
       |  SELECT d1, d2, diag,
       |    o1 - 10 * row_number() OVER (
       |      PARTITION BY d1, d2, diag ORDER BY o1) AS grp
       |  FROM m
       |), spans AS (
       |  SELECT d1, d2, count(*) * 10 + 30 AS span_chars
       |  FROM runs GROUP BY d1, d2, diag, grp
       |), pairs AS (
       |  SELECT d1, d2, CAST(max(span_chars) AS BIGINT) AS max_span_chars,
       |    CAST(count(*) AS BIGINT) AS n_spans
       |  FROM spans WHERE span_chars >= 80 GROUP BY d1, d2
       |)
       |SELECT d1, d2, max_span_chars, n_spans FROM pairs
       |UNION ALL
       |SELECT CAST(-1 AS BIGINT), CAST(-1 AS BIGINT),
       |  CAST(0 AS BIGINT), n FROM capped
       |ORDER BY d1, d2""".stripMargin
  }

  /** l25b: substring-span dedup fed by POSITIONAL WINNOWING — the
    * exact-at-any-displacement production path the l25 Scaladoc names.
    * l25's fixed-stride windows only detect a shared region whose
    * displacement between the two docs is ≡ 0 (mod stride); winnowing's
    * selection is content-defined, so two docs sharing a region select
    * the SAME grams at the same region-relative offsets regardless of
    * displacement, and the (o2 − o1) diagonal merge recovers the span.
    *
    * Parameterization (r12 — the r11 k=5 form was degenerate on the
    * fixture's small-vocabulary corpus: every 5-gram is generic, so
    * selections were either capped as boilerplate or scattered and NO
    * span survived; the gate matched on the cap sentinel alone): k=12
    * grams are discriminative (an exact 12-char match across docs is
    * already strong shared-content evidence on this corpus), w=4, and
    * the diagonal merge tolerates gaps ≤ `slack` = 3·w. The winnowing
    * guarantee bounds in-region selection gaps by w; the extra slack is
    * CAP-AWARE — when a selection inside a shared region is excised as
    * boilerplate (>capDocs docs), the surviving neighbours on the same
    * diagonal are up to (excised+1)·w apart, so slack = 3·w keeps a run
    * alive across up to two excised selections instead of splitting the
    * span. Span length = selected extent + k. Same no-silent-caps
    * contract as l25: capped fingerprints are excluded from pair
    * generation (the scale-critical fan-out bound) and COUNTED in the
    * (-1, -1) sentinel. 100 TB: fingerprinting is map-side (one
    * codegen'd expression per doc), one shuffle on the fingerprint,
    * pair fan-out bounded by the cap, the merge is a per-pair-diagonal
    * window.
    */
  private[graft] def winnowSpanSql(spark: Boolean, hint: String = "",
                                   capDocs: Int = 50,
                                   k: Int = 12, wWin: Int = 4,
                                   src: String = "documents"): String = {
    val slack = 3 * wWin
    val minLen = k + wWin - 1
    val w =
      if (spark)
        s"""w AS (
           |  SELECT doc_id, wnd.pos AS off, wnd.fp AS h
           |  FROM (SELECT $hint doc_id, text FROM $src
           |        WHERE length(text) >= $minLen) d
           |  LATERAL VIEW explode(winnow_spans(text, $k, $wWin)) t AS wnd
           |)""".stripMargin
      else {
        // The oracle states the same selection relationally — and
        // LINEARLY (the b03 discipline, r12: the former per-window
        // argmin self-join spilled DuckDB past the disk at the 500k-doc
        // 100× probe). Position p wins window s under the leftmost-
        // tie-break iff every position in [s, p) hashes STRICTLY above
        // h(p) and every position in (p, s+w-1] hashes at-or-above it;
        // so with lp = the (w-1)-capped run of strictly-greater
        // predecessors and rp = the capped run of at-or-greater
        // successors, p is selected iff some valid window start fits:
        // max(0, p-w+1, p-lp) <= min(p, maxpos-w+1, p+rp-w+1). lp/rp
        // are w-1 LAG/LEADs — one sort per doc, no self-join (verified
        // equal to the join form over every sf0.01 selection).
        val lagCols = (1 until wWin).map(i =>
          s"lag(h, $i) OVER dw AS a$i, lead(h, $i) OVER dw AS b$i")
          .mkString(",\n           |    ")
        def runCase(col: Int => String, cmp: String) =
          (1 until wWin).map(i =>
            s"WHEN ${col(i)} IS NULL OR ${col(i)} $cmp h THEN ${i - 1}")
            .mkString("CASE ", "\n           |         ", s" ELSE ${wWin - 1} END")
        s"""kg AS (
           |  SELECT doc_id,
           |    unnest(range(length(text) - ${k - 1})) AS pos,
           |    unnest(list_transform(range(length(text) - ${k - 1}),
           |      i -> substr(md5(substr(text, i + 1, $k)), 1, 8))) AS h
           |  FROM $src WHERE length(text) >= $minLen
           |), wn AS (
           |  SELECT doc_id, pos, h,
           |    max(pos) OVER (PARTITION BY doc_id) AS maxpos,
           |    $lagCols
           |  FROM kg
           |  WINDOW dw AS (PARTITION BY doc_id ORDER BY pos)
           |), wr AS (
           |  SELECT doc_id, pos AS off, h, maxpos,
           |    ${runCase(i => s"a$i", "<=")} AS lp,
           |    ${runCase(i => s"b$i", "<")} AS rp
           |  FROM wn
           |), w AS (
           |  SELECT doc_id, off, h FROM wr
           |  WHERE greatest(0, off - ${wWin - 1}, off - lp)
           |        <= least(off, maxpos - ${wWin - 1}, off + rp - ${wWin - 1})
           |)""".stripMargin
      }
    s"""WITH $w, eligible AS (
       |  SELECT h FROM w GROUP BY h HAVING count(DISTINCT doc_id) <= $capDocs
       |), capped AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n FROM (
       |    SELECT h FROM w GROUP BY h HAVING count(DISTINCT doc_id) > $capDocs) c
       |), m AS (
       |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2,
       |    b.off - a.off AS diag, a.off AS o1
       |  FROM w a JOIN eligible g ON a.h = g.h
       |           JOIN w b ON a.h = b.h AND a.doc_id < b.doc_id
       |), runs AS (
       |  SELECT d1, d2, diag, o1,
       |    sum(CASE WHEN prev IS NULL OR o1 - prev > $slack THEN 1 ELSE 0 END)
       |      OVER (PARTITION BY d1, d2, diag ORDER BY o1) AS grp
       |  FROM (
       |    SELECT d1, d2, diag, o1,
       |      lag(o1) OVER (PARTITION BY d1, d2, diag ORDER BY o1) AS prev
       |    FROM m) g
       |), spans AS (
       |  SELECT d1, d2, CAST(max(o1) - min(o1) + $k AS BIGINT) AS span_chars
       |  FROM runs GROUP BY d1, d2, diag, grp
       |), pairs AS (
       |  SELECT d1, d2, CAST(max(span_chars) AS BIGINT) AS max_span_chars,
       |    CAST(count(*) AS BIGINT) AS n_spans
       |  FROM spans WHERE span_chars >= 80 GROUP BY d1, d2
       |)
       |SELECT d1, d2, max_span_chars, n_spans FROM pairs
       |UNION ALL
       |SELECT CAST(-1 AS BIGINT), CAST(-1 AS BIGINT),
       |  CAST(0 AS BIGINT), n FROM capped
       |ORDER BY d1, d2""".stripMargin
  }

  /** l12b's OFFLINE index build: train the shared Lloyd's template on a
    * deterministic 1-in-4 sample (`vec_id % 4 = 0` — no RNG, same rows in
    * both engines) and emit the 8 centroids. At 100 TB the sample keeps
    * training cost a fixed fraction of one scan, and the result is
    * persisted — the serving query never re-pays it (VERDICT r7 weak #1).
    */
  private[graft] def ivfTrainSql(spark: Boolean): String =
    s"""WITH tr AS (
       |  SELECT vec_id, embedding FROM embeddings WHERE vec_id % 4 = 0
       |),
       |${ivfTrainCtes(spark, "tr")}
       |SELECT cid, ce FROM c2""".stripMargin

  /** l12b's SERVING query (Spark side), over the persisted
    * `ivf_centroids` table: ONE full scan of `embeddings`, everything
    * else broadcast-sized. The per-vector cell assignment is computed
    * map-side — the 8 centroids are pivoted into one array row and the
    * argmax-cosine is an `array_max` over structs ordered (sim, -cid),
    * the same max-sim-then-min-cid tie-break as ivfAssign — so no
    * vec_id-keyed shuffle exists anywhere in the plan: the corpus scan
    * flows through broadcast joins straight into the top-k. The DuckDB
    * oracle (`ivfServeOracleSql`) states the same serving semantics
    * relationally over the same template-trained centroids.
    */
  private[graft] def ivfServeSparkSql: String = {
    def cos(a: String, b: String) =
      s"""${dotSpark(a, b)}
         |        / (sqrt(${dotSpark(a, a)}) * sqrt(${dotSpark(b, b)}))""".stripMargin
    s"""WITH cs AS (
       |  SELECT collect_list(named_struct('cid', cid, 'ce', ce)) AS cl
       |  FROM ivf_centroids
       |), q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
       |qcells AS (
       |  SELECT c.cid FROM ivf_centroids c CROSS JOIN q
       |  ORDER BY ${cos("c.ce", "q.qe")} DESC, c.cid
       |  LIMIT 2
       |), scored AS (
       |  SELECT e.vec_id,
       |    ${cos("e.embedding", "q.qe")} AS sim,
       |    -array_max(transform(cl, c -> named_struct(
       |      's', ${cos("e.embedding", "c.ce")},
       |      'nc', -c.cid))).nc AS cell
       |  FROM embeddings e CROSS JOIN cs CROSS JOIN q
       |  WHERE e.vec_id <> 0
       |)
       |SELECT vec_id, round(sim, 6) AS sim FROM scored
       |WHERE cell IN (SELECT cid FROM qcells)
       |ORDER BY sim DESC, vec_id LIMIT 5""".stripMargin
  }

  /** l12b's oracle: the identical semantics in DuckDB — sampled training
    * via the shared template, then the relational form of the serving
    * (assign all vectors with the shared tie-break, probe the query's 2
    * nearest cells, exact cosine inside them).
    */
  private[graft] def ivfServeOracleSql: String = {
    def cos(a: String, b: String) =
      s"""${dotDuck(a, b)}
         |      / (sqrt(${dotDuck(a, a)}) * sqrt(${dotDuck(b, b)}))""".stripMargin
    s"""WITH tr AS (
       |  SELECT vec_id, embedding FROM embeddings WHERE vec_id % 4 = 0
       |),
       |${ivfTrainCtes(spark = false, "tr")},
       |${ivfAssign(spark = false, "assigned", "embeddings", "c2")},
       |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
       |qcells AS (
       |  SELECT c.cid FROM q CROSS JOIN c2 c
       |  ORDER BY ${cos("c.ce", "q.qe")} DESC, c.cid
       |  LIMIT 2
       |), cand AS (
       |  SELECT a.vec_id FROM assigned a JOIN qcells qc ON a.cell = qc.cid
       |  WHERE a.vec_id <> 0
       |), scored AS (
       |  SELECT e.vec_id, ${cos("e.embedding", "q.qe")} AS sim
       |  FROM embeddings e JOIN cand ON e.vec_id = cand.vec_id CROSS JOIN q
       |)
       |SELECT vec_id, round(sim, 6) AS sim
       |FROM scored ORDER BY sim DESC, vec_id LIMIT 5""".stripMargin
  }

  /** The persisted centroid table for l12b, keyed by corpus path: train
    * once (ivfTrainSql — deterministic, so the store is reusable across
    * sessions and runs), write the 8 rows as a one-file parquet table,
    * and serve from it forever after. The moral equivalent of a warehouse
    * `ivf_centroids` table on a cluster; a crashed half-write can never
    * be served (write lands in a temp dir, publish is an atomic rename).
    */
  private def ivfCentroids(s: SparkSession, dir: String): DataFrame = {
    val key = java.util.UUID.nameUUIDFromBytes(
      java.nio.file.Paths.get(dir).toAbsolutePath.toString
        .getBytes(java.nio.charset.StandardCharsets.UTF_8)).toString
    // v2: the seed-stratifier fix (sample-independent strata) retrains a
    // different — actually 8-centroid — quantizer; old stores must not
    // be served.
    val store = java.nio.file.Paths.get(
      sys.props("java.io.tmpdir"), s"graft-ivf-centroids-v2-$key")
    if (!java.nio.file.Files.exists(store)) {
      val tmp = java.nio.file.Files.createTempDirectory("graft-ivf-train")
      s.sql(ivfTrainSql(spark = true)).coalesce(1)
        .write.mode("overwrite").parquet(tmp.toString)
      try java.nio.file.Files.move(tmp, store,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      catch {
        // a concurrent trainer published first — identical content, use it
        case _: java.nio.file.FileAlreadyExistsException
           | _: java.nio.file.DirectoryNotEmptyException
           | _: java.nio.file.AccessDeniedException => ()
      }
    }
    s.read.parquet(store.toString)
  }

  /** l24b's SERVING query: SemDeDup over the PERSISTED quantizer (the
    * l12b/l26b discipline — l24 retrains Lloyd's inline on every run;
    * the pipeline re-dedup case reuses the v2 centroid store instead).
    * Cell assignment is computed MAP-SIDE in the same scan that computes
    * the norms — the 8 centroids pivot into one broadcast array row and
    * the argmax-cosine is the l12b array_max-over-structs tie-break — so
    * the plan has no training subtree and no vec_id-keyed shuffle; the
    * only corpus exchange is the cell-keyed one the within-cell pair
    * join inherently needs (PlanAuditSpec pins all three).
    */
  private[graft] def semDedupServedSparkSql(tau: Double = 0.4): String = {
    def cos(a: String, b: String) =
      s"""${dotSpark(a, b)}
         |        / (sqrt(${dotSpark(a, a)}) * sqrt(${dotSpark(b, b)}))""".stripMargin
    s"""WITH cs AS (
       |  SELECT collect_list(named_struct('cid', cid, 'ce', ce)) AS cl
       |  FROM ivf_centroids
       |), v AS (
       |  SELECT
       |    -array_max(transform(cl, c -> named_struct(
       |      's', ${cos("e.embedding", "c.ce")},
       |      'nc', -c.cid))).nc AS cell,
       |    e.vec_id, e.embedding,
       |    sqrt(${dotSpark("e.embedding", "e.embedding")}) AS nrm
       |  FROM embeddings e CROSS JOIN cs
       |), dropped AS (
       |  SELECT y.cell, y.vec_id
       |  FROM v x JOIN v y ON x.cell = y.cell AND x.vec_id < y.vec_id
       |  WHERE round(${dotSpark("x.embedding", "y.embedding")}
       |          / (x.nrm * y.nrm), 6) >= $tau
       |  GROUP BY y.cell, y.vec_id
       |)
       |SELECT v.cell, CAST(count(*) AS BIGINT) AS n_vecs,
       |  CAST(count(d.vec_id) AS BIGINT) AS n_dropped
       |FROM v LEFT JOIN dropped d
       |  ON v.cell = d.cell AND v.vec_id = d.vec_id
       |GROUP BY v.cell ORDER BY v.cell""".stripMargin
  }

  /** l24b's oracle: identical semantics recomputed from scratch in DuckDB
    * — SAMPLED training via the shared template (what the v2 store holds,
    * ivfTrainSql), relational assignment with the shared tie-break, same
    * within-cell census. The hash match proves persisted-quantizer
    * serving ≡ the from-scratch pipeline.
    */
  private[graft] def semDedupServedOracleSql(tau: Double = 0.4): String = {
    def dot(a: String, b: String) = dotDuck(a, b)
    s"""WITH tr AS (
       |  SELECT vec_id, embedding FROM embeddings WHERE vec_id % 4 = 0
       |),
       |${ivfTrainCtes(spark = false, "tr")},
       |${ivfAssign(spark = false, "assigned", "embeddings", "c2")},
       |v AS (
       |  SELECT a.cell, e.vec_id, e.embedding,
       |    sqrt(${dot("e.embedding", "e.embedding")}) AS nrm
       |  FROM assigned a JOIN embeddings e ON a.vec_id = e.vec_id
       |), dropped AS (
       |  SELECT y.cell, y.vec_id
       |  FROM v x JOIN v y ON x.cell = y.cell AND x.vec_id < y.vec_id
       |  WHERE round(${dot("x.embedding", "y.embedding")}
       |          / (x.nrm * y.nrm), 6) >= $tau
       |  GROUP BY y.cell, y.vec_id
       |)
       |SELECT v.cell, CAST(count(*) AS BIGINT) AS n_vecs,
       |  CAST(count(d.vec_id) AS BIGINT) AS n_dropped
       |FROM v LEFT JOIN dropped d
       |  ON v.cell = d.cell AND v.vec_id = d.vec_id
       |GROUP BY v.cell ORDER BY v.cell""".stripMargin
  }

  /** One Spark SQL template for the decontamination sweep (l19 exact /
    * l22 bloom / l23 auto): find training documents sharing any word
    * n-gram with the held-out eval sources. Both shapes are
    * answer-identical — the bloom arm exact-confirms its survivors, so
    * false positives never reach the output — which is what lets a
    * chooser pick between them without an oracle split.
    */
  private[graft] def decontaminationSql(s: SparkSession, n: Int,
                                        bloom: Boolean): String = {
    val survivors =
      if (bloom)
        """, survivors AS (
          |  SELECT doc_id, source, g FROM tr
          |  WHERE bloom_probe((SELECT bloom_build(xxhash64(g)) FROM ev),
          |                    xxhash64(g))
          |)""".stripMargin
      else ""
    val probeSrc = if (bloom) "survivors sv" else "tr sv"
    s"""WITH ev AS (
       |  SELECT DISTINCT g FROM documents
       |  LATERAL VIEW explode(array_distinct(word_ngrams(text, $n))) t AS g
       |  WHERE source IN ('src0', 'src1')
       |), tr AS (
       |  SELECT doc_id, source, g
       |  FROM (SELECT ${Tables.spreadHint(s)} doc_id, source, text FROM documents
       |        WHERE source NOT IN ('src0', 'src1')) d
       |  LATERAL VIEW explode(array_distinct(word_ngrams(text, $n))) t AS g
       |)$survivors, per_doc AS (
       |  SELECT sv.doc_id, sv.source, count(*) AS n_hit_grams
       |  FROM $probeSrc JOIN ev ON sv.g = ev.g
       |  GROUP BY sv.doc_id, sv.source
       |)
       |SELECT source, CAST(count(*) AS BIGINT) AS n_contaminated_docs,
       |  CAST(sum(n_hit_grams) AS BIGINT) AS n_hit_grams,
       |  CAST(max(n_hit_grams) AS BIGINT) AS max_hit_grams
       |FROM per_doc GROUP BY source ORDER BY source""".stripMargin
  }

  /** Upper bound on the bytes the exact shape would broadcast: every word
    * position in the eval texts starts one n-gram spanning ~n words, so
    * total gram characters are at most n × eval text characters — and the
    * DISTINCT set the join broadcasts is at most that. One cheap pushed-
    * filter aggregate over the eval side, which is small by definition
    * (eval sets are thousands of docs, not billions).
    */
  private[graft] def estimatedEvalGramBytes(s: SparkSession, n: Int): Long =
    s.sql(
      """SELECT CAST(coalesce(sum(length(text)), 0) AS BIGINT) FROM documents
        |WHERE source IN ('src0', 'src1')""".stripMargin)
      .head.getLong(0) * n

  /** Pick the decontamination shape the way [[Tables.spreadOn]] picks the
    * spread exchange (VERDICT r7 next #4 — the measured l19/l22 crossover
    * as an automatic decision, not written guidance): session conf
    * `graft.decontamination` (exact/bloom — the forced arms specs and
    * plan A/Bs use), else compare the gram-set estimate against the
    * session's own broadcast threshold. Below it the eval grams broadcast
    * and the exact hash join wins; beyond it Spark would fall back to a
    * full corpus-side shuffle join, so the bloom prefilter (a few MB
    * riding as a scalar-subquery constant) is the scale shape.
    */
  private[graft] def decontaminationShape(s: SparkSession, n: Int): String =
    s.conf.getOption("graft.decontamination")
      .filter(v => v == "exact" || v == "bloom").getOrElse {
        val thr = s.sessionState.conf.autoBroadcastJoinThreshold
        if (thr > 0 && estimatedEvalGramBytes(s, n) <= thr) "exact" else "bloom"
      }

  /** Min-label propagation over an undirected edge list, run TO
    * CONVERGENCE (the l14 resolution step). Each round is one self-join +
    * aggregation (one shuffle) and is checkpointed — each round
    * references its predecessor twice, so leaving the lineage in place
    * re-inlines the whole pipeline 2^rounds times at analysis time (the
    * iterative-algorithm trap; measured 14 s vs ~1 s checkpointed).
    *
    * Convergence contract (VERDICT r7 #3 — a fixed round count silently
    * under-merges chains longer than the bound): labels are monotonically
    * non-increasing, so a round changed nothing iff the label sum is
    * unchanged — one cheap aggregate per round on the already-
    * materialized checkpoint, no extra join. The sum is read in
    * DECIMAL(38,0) so 100 TB-scale id sums cannot wrap. Rounds stop at
    * the first fixpoint; propagation needs diameter+1 rounds, and real
    * near-dup graphs have tiny diameters. A graph still moving at the
    * cap (diameter beyond the linear-propagation regime) hands off to
    * [[starContract]] — O(log n) rounds for ANY diameter — instead of
    * failing or silently under-merging.
    */
  private[graft] def resolveClusters(s: SparkSession, edges: DataFrame,
                                     cap: Int = 64): DataFrame = {
    clusterLabels(s, edges, cap).createOrReplaceTempView("l14_lab_final")
    s.sql(
      """SELECT sz, count(*) AS n_clusters FROM (
        |  SELECT lbl, count(*) AS sz FROM l14_lab_final GROUP BY lbl
        |) GROUP BY sz ORDER BY sz""".stripMargin)
  }

  /** The (node, lbl) component labeling [[resolveClusters]] aggregates and
    * l38's canonical pick joins back to documents — min-label propagation
    * to convergence with the star-contraction handoff, as documented
    * above. Nodes with no edge never appear (singletons are implicitly
    * their own canonical representative). */
  /** The l14/l38 duplicate-edge builder: exact-dup star edges (content
    * hash → min-doc root) ∪ near-dup edges (adjacent-id bigram Jaccard,
    * l08's blocking). Shared so the cluster histogram (l14) and the
    * canonical pick (l38) resolve the SAME graph. */
  private[graft] def dedupEdgesSparkSql(s: SparkSession): String =
    s"""WITH ex AS (
       |  SELECT doc_id, md5(lower(text)) AS k FROM documents
       |), exg AS (
       |  SELECT k, min(doc_id) AS root, count(*) AS n FROM ex GROUP BY k
       |), exedges AS (
       |  SELECT e.doc_id AS a, g.root AS b FROM ex e JOIN exg g ON e.k = g.k
       |  WHERE g.n > 1 AND e.doc_id <> g.root
       |), grams AS (
       |  SELECT doc_id, lang, array_distinct(word_ngrams(text, 2)) AS gr
       |  FROM (SELECT ${Tables.spreadHint(s)} doc_id, lang, text FROM documents)
       |  WHERE size(split(text, ' ')) >= 2
       |), ndedges AS (
       |  SELECT a.doc_id AS a, b.doc_id AS b
       |  FROM grams a JOIN grams b ON a.lang = b.lang AND b.doc_id = a.doc_id + 1
       |  WHERE CAST(size(array_intersect(a.gr, b.gr)) AS DOUBLE)
       |    / (size(a.gr) + size(b.gr) - size(array_intersect(a.gr, b.gr))) > 0.05
       |)
       |SELECT a, b FROM exedges UNION SELECT a, b FROM ndedges""".stripMargin

  private[graft] def clusterLabels(s: SparkSession, edges: DataFrame,
                                   cap: Int = 64): DataFrame = {
    edges.createOrReplaceTempView("l14_edges")
    s.sql("SELECT a, b FROM l14_edges UNION ALL SELECT b AS a, a AS b FROM l14_edges")
      .localCheckpoint().createOrReplaceTempView("l14_bi")
    var lab = s.sql("SELECT DISTINCT a AS node, a AS lbl FROM l14_bi")
      .localCheckpoint()
    var lastSum: java.math.BigDecimal = null
    var converged = false
    var round = 0
    while (!converged && round < cap) {
      lab.createOrReplaceTempView("l14_lab")
      lab = s.sql(
        """SELECT x.node, min(x.lbl) AS lbl FROM (
          |  SELECT node, lbl FROM l14_lab
          |  UNION ALL
          |  SELECT e.a AS node, l.lbl FROM l14_bi e JOIN l14_lab l ON l.node = e.b
          |) x GROUP BY x.node""".stripMargin).localCheckpoint()
      val sum = lab.selectExpr(
        "CAST(coalesce(sum(CAST(lbl AS DECIMAL(38,0))), 0) AS DECIMAL(38,0)) AS s")
        .head.getDecimal(0)
      converged = lastSum != null && sum.compareTo(lastSum) == 0
      lastSum = sum
      round += 1
    }
    if (converged) lab
    else starContract(s, edges) // high-diameter regime: O(log n) rounds
  }

  /** Connected components by alternating large-star/small-star contraction
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC'14) — the doubling algorithm linear min-label propagation hands
    * off to when the graph's diameter exceeds its round cap. Each round is
    * two grouped-min passes over the edge list (shuffles on node id, one
    * small join each, never all-pairs):
    *
    *   large-star(u): m = min(N(u) + u); emit (v, m) for v in N(u), v > u
    *   small-star(u): m = min(N(u) + u); emit (v, m) for v in N(u)+u, v <= u
    *
    * Both preserve connectivity; the fixpoint is a forest of stars whose
    * centers are the component minima — labels drop out as (leaf, center)
    * plus (center, center). Rounds are O(log² n) worst case / O(log n) in
    * practice, so a billion-hop chain at 100 TB costs ~30 rounds where
    * propagation would need a billion. Same checkpoint-per-round
    * discipline as the propagation loop. The fixpoint witness is a
    * content hash of the edge multiset — sum of a 48-bit md5 prefix per
    * edge in DECIMAL(38,0) (unlike propagation's label sum, the edge sum
    * is not monotone, so a raw sum could alias two different sets; the
    * hash sum makes a collision astronomically unlikely and stays one
    * cheap aggregate per round). A generous cap still fails loudly if
    * the fixpoint somehow never lands.
    */
  private[graft] def starContract(s: SparkSession, edges: DataFrame,
                                  maxRounds: Int = 50): DataFrame = {
    var e = edges.selectExpr("a", "b").where("a <> b").localCheckpoint()
    var lastSum: java.math.BigDecimal = null
    var converged = false
    var round = 0
    while (!converged && round < maxRounds) {
      e.createOrReplaceTempView("l14_sc_e")
      // large-star: neighbors larger than u re-point at u's min
      val large = s.sql(
        """WITH bi AS (
          |  SELECT a AS u, b AS v FROM l14_sc_e
          |  UNION ALL
          |  SELECT b AS u, a AS v FROM l14_sc_e
          |), mins AS (
          |  SELECT u, least(u, min(v)) AS m FROM bi GROUP BY u
          |)
          |SELECT DISTINCT bi.v AS a, mins.m AS b
          |FROM bi JOIN mins ON bi.u = mins.u
          |WHERE bi.v > bi.u AND bi.v <> mins.m""".stripMargin).localCheckpoint()
      large.createOrReplaceTempView("l14_sc_l")
      // small-star: u and its not-larger neighbors all point at the min
      e = s.sql(
        """WITH bi AS (
          |  SELECT a AS u, b AS v FROM l14_sc_l
          |  UNION ALL
          |  SELECT b AS u, a AS v FROM l14_sc_l
          |), mins AS (
          |  SELECT u, least(u, min(v)) AS m FROM bi GROUP BY u
          |)
          |SELECT DISTINCT a, b FROM (
          |  SELECT bi.v AS a, mins.m AS b
          |  FROM bi JOIN mins ON bi.u = mins.u
          |  WHERE bi.v <= bi.u
          |  UNION ALL
          |  SELECT mins.u AS a, mins.m AS m FROM mins
          |) x WHERE a <> b""".stripMargin).localCheckpoint()
      val sum = e.selectExpr(
        """CAST(coalesce(sum(CAST(conv(substr(md5(concat(a, ':', b)), 1, 12),
          |16, 10) AS DECIMAL(38,0))), 0) AS DECIMAL(38,0)) AS s""".stripMargin)
        .head.getDecimal(0)
      converged = lastSum != null && sum.compareTo(lastSum) == 0
      lastSum = sum
      round += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"star contraction not at fixpoint after $maxRounds rounds")
    e.createOrReplaceTempView("l14_sc_final")
    // stars: every remaining edge is (leaf, center); centers label
    // themselves (anti-join picks out roots that never appear as a leaf)
    s.sql(
      """SELECT a AS node, min(b) AS lbl FROM l14_sc_final GROUP BY a
        |UNION ALL
        |SELECT DISTINCT b AS node, b AS lbl FROM l14_sc_final f
        |WHERE NOT EXISTS (SELECT 1 FROM l14_sc_final g WHERE g.a = f.b)"""
        .stripMargin)
  }

  /** 4-bit sign-LSH bucket: sign bits of components 1, 17, 33, 49 — four
    * axis-aligned hyperplanes. Deterministic (no RNG in either engine).
    */
  private def bucketSpark(e: String): String =
    Seq(1, 17, 33, 49).map(i =>
      s"(CASE WHEN element_at($e, $i) >= 0 THEN '1' ELSE '0' END)")
      .mkString("concat(", ", ", ")")
  private def bucketDuck(e: String): String =
    Seq(1, 17, 33, 49).map(i =>
      s"(CASE WHEN $e[$i] >= 0 THEN '1' ELSE '0' END)")
      .mkString("concat(", ", ", ")")

  /** l09b template: the production-width sibling of l09's single 4-bit
    * sign-LSH cell (round-8's scale lesson applied ahead of failure —
    * l09's key space is a CONSTANT 16 cells, so its in-cell pair
    * expansion is all-pairs/16 at any production corpus). 16 sign-bit
    * hyperplanes in 4 bands of 4, OR-banding like l02/l11b (a pair is a
    * candidate iff SOME band matches — recall rises with corpus
    * concentration instead of work going quadratic), the observable
    * mega-bucket cap (n_dropped_buckets in the output row, never a
    * silent recall gap), and an exact-cosine confirm on candidates.
    * Spark uses bucket-local pair expansion with bucket-unique sentinel
    * structs riding the pair pipeline (see simhash64Sql's note on why
    * every alternative re-runs the corpus subtree); DuckDB materializes
    * CTEs, so it keeps the plain join form. One template, both engines.
    *
    * `bitsPerBand` is the recall/selectivity dial (the l02-vs-l02b width
    * lever): 4 bits/band = 16 cells/band finds moderate-sim pairs and
    * leans on the cap under concentration; 16 bits/band = 65536
    * cells/band (the l11b-equivalent maximum for 64-dim sign-LSH — 4×16
    * planes uses every dimension) targets high-sim near-dups with tiny
    * buckets at billion-vector scale. The cap is the safety net at every
    * width; the width is the tuning.
    */
  private[graft] def signLshBandedSql(spark: Boolean,
                                      table: String = "embeddings",
                                      cap: Int = 512,
                                      bitsPerBand: Int = 4): String = {
    require(bitsPerBand >= 1 && bitsPerBand <= 16, "4 bands over <= 64 dims")
    def sgn(d: Int) =
      if (spark) s"(CASE WHEN element_at(embedding, $d) >= 0 THEN '1' ELSE '0' END)"
      else s"(CASE WHEN embedding[$d] >= 0 THEN '1' ELSE '0' END)"
    // band j reads `bitsPerBand` consecutive planes starting at 1 + j*bits
    def band(j: Int) =
      (0 until bitsPerBand).map(k => sgn(1 + j * bitsPerBand + k))
        .mkString("concat(", ", ", ")")
    val bandCols = (0 until 4).map(j => s"${band(j)} AS b$j").mkString(",\n    ")
    val dot =
      if (spark) dotSpark("fa.embedding", "fb.embedding")
      else dotDuck("fa.embedding", "fb.embedding")
    val nrm =
      if (spark) dotSpark("embedding", "embedding")
      else dotDuck("embedding", "embedding")
    if (spark)
      s"""WITH f AS (
         |  SELECT vec_id, embedding, sqrt($nrm) AS nrm,
         |    $bandCols
         |  FROM $table
         |), bands AS (
         |  SELECT vec_id, posexplode(array(b0, b1, b2, b3)) AS (band, sig)
         |  FROM f
         |), buckets AS (
         |  SELECT band, sig, sort_array(collect_list(vec_id)) AS ids
         |  FROM bands GROUP BY band, sig
         |), cand AS (
         |  SELECT DISTINCT p.d1, p.d2 FROM buckets
         |  LATERAL VIEW explode(CASE WHEN size(ids) <= $cap THEN
         |    flatten(transform(ids, (x, i) ->
         |      transform(slice(ids, i + 2, size(ids)),
         |        y -> named_struct('d1', x, 'd2', y))))
         |    ELSE array(named_struct('d1', CAST(-1 AS BIGINT),
         |      'd2', -(CAST(band AS BIGINT) * 65536 + conv(sig, 2, 10)) - 1)) END) t AS p
         |), pairs AS (
         |  SELECT c.d1, c.d2,
         |    CASE WHEN c.d1 < 0 THEN CAST(-2 AS DOUBLE)
         |         ELSE round($dot / (fa.nrm * fb.nrm), 6) END AS sim
         |  FROM cand c
         |  LEFT JOIN f fa ON fa.vec_id = c.d1
         |  LEFT JOIN f fb ON fb.vec_id = c.d2
         |)
         |SELECT CAST(count(CASE WHEN sim >= -1 THEN 1 END) AS BIGINT) AS n_cand_pairs,
         |  CAST(count(CASE WHEN sim > 0.4 THEN 1 END) AS BIGINT) AS n_neardup_pairs,
         |  round(coalesce(max(CASE WHEN sim >= -1 THEN sim END), -1), 6) AS max_sim,
         |  CAST(count(CASE WHEN sim < -1 THEN 1 END) AS BIGINT) AS n_dropped_buckets
         |FROM pairs""".stripMargin
    else
      s"""WITH f AS (
         |  SELECT vec_id, embedding, sqrt($nrm) AS nrm,
         |    $bandCols
         |  FROM $table
         |), bands AS (
         |  SELECT vec_id, 0 AS band, b0 AS sig FROM f
         |  UNION ALL SELECT vec_id, 1, b1 FROM f
         |  UNION ALL SELECT vec_id, 2, b2 FROM f
         |  UNION ALL SELECT vec_id, 3, b3 FROM f
         |), bc AS (
         |  SELECT band, sig, count(*) AS c FROM bands GROUP BY band, sig
         |), bkept AS (
         |  SELECT bands.vec_id, bands.band, bands.sig
         |  FROM bands JOIN bc ON bands.band = bc.band AND bands.sig = bc.sig
         |  WHERE bc.c <= $cap
         |), cand AS (
         |  SELECT DISTINCT a.vec_id AS d1, b.vec_id AS d2
         |  FROM bkept a JOIN bkept b
         |    ON a.band = b.band AND a.sig = b.sig AND a.vec_id < b.vec_id
         |), pairs AS (
         |  SELECT c.d1, c.d2, round($dot / (fa.nrm * fb.nrm), 6) AS sim
         |  FROM cand c
         |  JOIN f fa ON fa.vec_id = c.d1
         |  JOIN f fb ON fb.vec_id = c.d2
         |)
         |SELECT CAST(count(*) AS BIGINT) AS n_cand_pairs,
         |  CAST(count(CASE WHEN sim > 0.4 THEN 1 END) AS BIGINT) AS n_neardup_pairs,
         |  round(coalesce(max(sim), -1), 6) AS max_sim,
         |  (SELECT CAST(count(*) AS BIGINT) FROM bc WHERE c > $cap) AS n_dropped_buckets
         |FROM pairs""".stripMargin
  }

  /** Hex nibble value of md5(x) char at `pos` (1-based): position-in-alphabet
    * arithmetic (no hex-cast differences between engines). Spark spells the
    * position function `instr`, DuckDB `strpos` — same 1-based semantics.
    */
  private def nibSpark(md5expr: String, pos: Int): String =
    s"(instr('0123456789abcdef', substr($md5expr, $pos, 1)) - 1)"
  private def nib(md5expr: String, pos: Int): String =
    s"(strpos('0123456789abcdef', substr($md5expr, $pos, 1)) - 1)"

  /** The l11b production-width simhash query, one template for both
    * dialects (VERDICT r6 #4: the 8-bit fingerprint is an oracle toy; the
    * production shape is 64-bit banded 4×16).
    *
    * 64-bit simhash from md5's first 16 nibbles (integer-only arithmetic,
    * so both engines agree bit-exactly), carried as FOUR 16-bit band
    * values — which sidesteps signed-64-bit hex-cast differences AND is
    * the production join structure: two docs are candidates iff some band
    * matches (pigeonhole: any pair with hamming ≤ 3 shares at least one
    * of 4 bands), so the equi-join key has 4×65536 cardinality instead of
    * l11's 256, and the probe fan-out stays 4 rows/doc instead of 65
    * single-bit flips. Candidates then confirm with the exact 64-bit
    * hamming distance and the ≤3 threshold the banding guarantees
    * complete. 100 TB: one linear fingerprint pass, a 4-key band
    * self-join (never all-pairs), constant per-candidate confirm work.
    *
    * Mega-bucket cap (round-8 scale probe): banding bounds the KEY space,
    * not the bucket size — a boilerplate-heavy corpus concentrates one
    * band sig and the pair expansion goes quadratic in it (measured on
    * the 30× replicated corpus: the largest band bucket grew 291 → 8730
    * docs and raw in-bucket pairs 191k → 181M, a 900× blowup for 30×
    * data that OOM'd a 24 GB local run). Same remedy as l02: buckets
    * beyond `cap` docs are dropped from candidate generation and the
    * drop is OBSERVABLE — the result carries a sentinel (hd = -1) row
    * counting dropped buckets, so a silent-recall gap cannot masquerade
    * as a clean run. A true hd≤3 pair can still surface via its other
    * untouched bands. cap=512 leaves every driver fixture untouched
    * (sf0.1 max bucket: 291) and caps only pathological concentration.
    */
  private[graft] def simhash64Sql(spark: Boolean, hint: String = "",
                                  finalSelect: String = "",
                                  table: String = "documents",
                                  cap: Int = 512): String = {
    def nibOf(h: String, pos: Int) =
      if (spark) nibSpark(h, pos) else nib(h, pos)
    def idiv = if (spark) "DIV" else "//"
    def bxor(a: String, b: String) = if (spark) s"($a ^ $b)" else s"xor($a, $b)"
    // vote for bit b: nibble 1 + b/4 of md5, bit b%4 within it
    val votes = (0 until 64).map { b =>
      s"sum(2 * ((nib${1 + b / 4} $idiv ${1 << (b % 4)}) % 2) - 1) AS s$b"
    }.mkString(",\n    ")
    val nibs = (1 to 16).map(i => s"${nibOf("h", i)} AS nib$i").mkString(",\n    ")
    val bands = (0 until 4).map { j =>
      val bits = (0 until 16).map(t =>
        s"(CASE WHEN s${16 * j + t} > 0 THEN ${1 << t} ELSE 0 END)").mkString(" + ")
      s"CAST($bits AS INT) AS b$j"
    }.mkString(",\n    ")
    val bandRows = (0 until 4).map(j =>
      s"SELECT doc_id, $j AS band, b$j AS sig FROM f").mkString("\n  UNION ALL\n  ")
    val hd = (0 until 4).map(j =>
      s"bit_count(${bxor(s"fa.b$j", s"fb.b$j")})").mkString(" + ")
    val tok =
      if (spark)
        s"""SELECT doc_id, explode(split(text, ' ')) AS w
           |  FROM (SELECT $hint doc_id, text FROM $table)""".stripMargin
      else s"SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM $table"
    // Candidate generation differs per engine in SHAPE only (the kept/
    // dropped semantics are identical, which the oracle proves): Spark
    // uses l02b's bucket-local pair expansion — ONE (band,sig)
    // aggregation, pairs exploded inside each kept bucket row. A dropped
    // mega bucket reduces to ONE sentinel struct whose d2 encodes the
    // bucket identity (-(band·65536+sig)-1, unique and negative), so
    // sentinels survive the pair DISTINCT, ride the normal pair pipeline
    // (the fingerprint LEFT JOINs find no doc and the CASE pins hd=-1),
    // and are counted by the same final rollup — no second reference to
    // the corpus subtree anywhere (a bands⋈counts join form re-inlined
    // it per CTE reference: measured 7 → 14 exchanges; a scalar-subquery
    // dropped-count still re-ran the whole fingerprint pipeline because
    // column pruning makes the two subtrees non-identical, defeating
    // exchange reuse). The constant (-1, 0) row keeps the sentinel
    // OBSERVABLE — present with n_pairs=0 — when nothing was dropped.
    // DuckDB materializes CTEs, so the plain join form is fine there.
    val candSection =
      if (spark)
        s"""), buckets AS (
           |  SELECT band, sig, sort_array(collect_list(doc_id)) AS ids
           |  FROM bands GROUP BY band, sig
           |), cand AS (
           |  SELECT DISTINCT p.d1, p.d2 FROM buckets
           |  LATERAL VIEW explode(CASE WHEN size(ids) <= $cap THEN
           |    flatten(transform(ids, (x, i) ->
           |      transform(slice(ids, i + 2, size(ids)),
           |        y -> named_struct('d1', x, 'd2', y))))
           |    ELSE array(named_struct('d1', CAST(-1 AS BIGINT),
           |      'd2', -(CAST(band AS BIGINT) * 65536 + sig) - 1)) END) t AS p
           |)""".stripMargin
      else
        s"""), bc AS (
           |  SELECT band, sig, count(*) AS c FROM bands GROUP BY band, sig
           |), bkept AS (
           |  SELECT bands.doc_id, bands.band, bands.sig
           |  FROM bands JOIN bc ON bands.band = bc.band AND bands.sig = bc.sig
           |  WHERE bc.c <= $cap
           |), cand AS (
           |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
           |  FROM bkept a JOIN bkept b
           |    ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
           |)""".stripMargin
    val pairsSection =
      if (spark)
        s""", pairs AS (
           |  SELECT c.d1, c.d2,
           |    CASE WHEN c.d1 < 0 THEN -1 ELSE CAST($hd AS INT) END AS hd
           |  FROM cand c
           |  LEFT JOIN f fa ON fa.doc_id = c.d1
           |  LEFT JOIN f fb ON fb.doc_id = c.d2
           |)""".stripMargin
      else
        s""", pairs AS (
           |  SELECT c.d1, c.d2, CAST($hd AS INT) AS hd
           |  FROM cand c
           |  JOIN f fa ON fa.doc_id = c.d1
           |  JOIN f fb ON fb.doc_id = c.d2
           |)""".stripMargin
    val finalDefault =
      if (spark)
        s"""SELECT hd, CAST(sum(n) AS BIGINT) AS n_pairs FROM (
           |  SELECT hd, count(*) AS n FROM pairs WHERE hd <= 3 GROUP BY hd
           |  UNION ALL
           |  SELECT CAST(-1 AS INT) AS hd, CAST(0 AS BIGINT) AS n
           |) u GROUP BY hd ORDER BY hd""".stripMargin
      else
        s"""SELECT hd, n_pairs FROM (
           |  SELECT CAST(hd AS INT) AS hd, count(*) AS n_pairs
           |  FROM pairs WHERE hd <= 3 GROUP BY hd
           |  UNION ALL
           |  SELECT CAST(-1 AS INT) AS hd, count(*) AS n_pairs
           |  FROM bc WHERE c > $cap
           |) u ORDER BY hd""".stripMargin
    s"""WITH tok AS (
       |  $tok
       |), nb AS (
       |  SELECT doc_id,
       |    $nibs
       |  FROM (SELECT doc_id, md5(w) AS h FROM tok) t
       |), v AS (
       |  SELECT doc_id,
       |    $votes
       |  FROM nb GROUP BY doc_id
       |), f AS (
       |  SELECT doc_id,
       |    $bands
       |  FROM v
       |), bands AS (
       |  $bandRows
       |$candSection$pairsSection
       |${if (finalSelect.nonEmpty) finalSelect else finalDefault}""".stripMargin
  }

  /** The l11b Spark-side plan: the whole 64-bit vote loop runs inside the
    * scan as the codegen'd `simhash64_bands` expression (spec-asserted
    * equal to [[simhash64Sql]]'s explode+aggregate pipeline, which remains
    * the DuckDB oracle). See [[graft.functions.SimhashOps]] for the honest
    * cost accounting — measured 2.0× at sf0.1 (PERF.md r7); the plan's
    * first exchange is the band self-join itself.
    */
  private def simhash64ExprSql(hint: String, cap: Int = 512): String = {
    val hd = (0 until 4).map(j =>
      s"bit_count(fa.bs[$j] ^ fb.bs[$j])").mkString(" + ")
    // same bucket-local cap shape as the SQL template's Spark arm — one
    // (band,sig) aggregation, in-bucket pair expansion, dropped mega
    // buckets reduced to bucket-unique sentinel structs that ride the
    // pair pipeline to the hd=-1 output row (see simhash64Sql's note on
    // why every alternative re-ran the corpus subtree)
    s"""WITH f AS (
       |  SELECT doc_id, simhash64_bands(text) AS bs
       |  FROM (SELECT $hint doc_id, text FROM documents)
       |  WHERE text IS NOT NULL
       |), bands AS (
       |  SELECT doc_id, posexplode(bs) AS (band, sig) FROM f
       |), buckets AS (
       |  SELECT band, sig, sort_array(collect_list(doc_id)) AS ids
       |  FROM bands GROUP BY band, sig
       |), cand AS (
       |  SELECT DISTINCT p.d1, p.d2 FROM buckets
       |  LATERAL VIEW explode(CASE WHEN size(ids) <= $cap THEN
       |    flatten(transform(ids, (x, i) ->
       |      transform(slice(ids, i + 2, size(ids)),
       |        y -> named_struct('d1', x, 'd2', y))))
       |    ELSE array(named_struct('d1', CAST(-1 AS BIGINT),
       |      'd2', -(CAST(band AS BIGINT) * 65536 + sig) - 1)) END) t AS p
       |), pairs AS (
       |  SELECT c.d1, c.d2,
       |    CASE WHEN c.d1 < 0 THEN -1 ELSE CAST($hd AS INT) END AS hd
       |  FROM cand c
       |  LEFT JOIN f fa ON fa.doc_id = c.d1
       |  LEFT JOIN f fb ON fb.doc_id = c.d2
       |)
       |SELECT hd, CAST(sum(n) AS BIGINT) AS n_pairs FROM (
       |  SELECT hd, count(*) AS n FROM pairs WHERE hd <= 3 GROUP BY hd
       |  UNION ALL
       |  SELECT CAST(-1 AS INT) AS hd, CAST(0 AS BIGINT) AS n
       |) u GROUP BY hd ORDER BY hd""".stripMargin
  }

  /** Parameterized minhash-LSH (l02b): `nHashes` min-hashes banded into
    * groups of `bandSize` — the production lever VERDICT r6 #4 asks for
    * (l02's fixed 4×2 is the oracle-cheap toy point of the same family).
    * More hashes/narrower bands trade recall against bucket selectivity;
    * the bucket cap and its observable drop count work unchanged.
    */
  private[graft] def minhashLshSqlN(spark: Boolean, nHashes: Int,
                                    bandSize: Int, cap: Int,
                                    hint: String = ""): String = {
    require(nHashes % bandSize == 0, "bands must tile the signature")
    val nBands = nHashes / bandSize
    val concatOp = if (spark) (xs: Seq[String]) => xs.mkString("concat(", ", ", ")")
                   else (xs: Seq[String]) => xs.mkString(" || ")
    val mh = (0 until nHashes).map { i =>
      val hashed = if (spark) s"md5(concat(s, '#$i'))" else s"md5(s || '#$i')"
      s"min(substr($hashed, 1, 8)) AS h$i"
    }.mkString(",\n    ")
    def bandSig(j: Int) =
      concatOp((0 until bandSize).map(t => s"h${j * bandSize + t}"))
    if (spark) {
      // band sigs come straight off the codegen'd per-doc signature
      // (minhash_sigs — see minhashLshSql's note; no shingle shuffle)
      val bandPairs = (0 until nBands).map { j =>
        (0 until bandSize).map(t => s"hs[${j * bandSize + t}]")
          .mkString("concat(", ", ", ")")
      }.mkString(", ")
      s"""WITH mh AS (
         |  SELECT doc_id, minhash_sigs(text, 3, $nHashes) AS hs
         |  FROM (SELECT $hint doc_id, text FROM documents)
         |  WHERE size(split(text, ' ')) >= 3
         |), bands AS (
         |  SELECT doc_id, posexplode(array($bandPairs)) AS (band, sig)
         |  FROM mh
         |), buckets AS (
         |  SELECT band, sig, sort_array(collect_list(doc_id)) AS ids
         |  FROM bands GROUP BY band, sig
         |), pairs AS (
         |  SELECT band, sig, p.d1, p.d2
         |  FROM buckets
         |  LATERAL VIEW explode(CASE WHEN size(ids) <= $cap THEN
         |    flatten(transform(ids, (x, i) ->
         |      transform(slice(ids, i + 2, size(ids)),
         |        y -> named_struct('d1', x, 'd2', y))))
         |    ELSE array(named_struct('d1', CAST(-1 AS BIGINT), 'd2', CAST(-1 AS BIGINT))) END) t AS p
         |)
         |SELECT count(CASE WHEN d1 >= 0 THEN 1 END) AS n_candidate_pairs,
         |  count(DISTINCT CASE WHEN d1 >= 0 THEN concat(d1, '_', d2) END) AS n_distinct_pairs,
         |  count(DISTINCT CASE WHEN d1 >= 0 THEN concat(band, ':', sig) END) AS n_multi_buckets,
         |  CAST(count(CASE WHEN d1 < 0 THEN 1 END) AS BIGINT) AS n_dropped_buckets
         |FROM pairs""".stripMargin
    } else {
      val bandRows = (0 until nBands).map(j =>
        s"SELECT doc_id, $j AS band, ${bandSig(j)} AS sig FROM mh")
        .mkString("\n  UNION ALL\n  ")
      s"""WITH toks AS (
         |  SELECT doc_id, string_split(text, ' ') AS t FROM documents WHERE len(string_split(text, ' ')) >= 3
         |), sh AS (
         |  SELECT doc_id, unnest(list_transform(range(len(t) - 2),
         |    i -> array_to_string(t[i+1:i+3], ' '))) AS s
         |  FROM toks
         |), mh AS (
         |  SELECT doc_id,
         |    $mh
         |  FROM sh GROUP BY doc_id
         |), bands AS (
         |  $bandRows
         |), buckets AS (
         |  SELECT band, sig, count(*) AS n FROM bands GROUP BY band, sig
         |), pairs AS (
         |  SELECT a.doc_id AS d1, b.doc_id AS d2
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
         |  JOIN buckets k ON k.band = a.band AND k.sig = a.sig
         |    AND k.n <= $cap
         |)
         |SELECT count(*) AS n_candidate_pairs,
         |  count(DISTINCT concat(d1, '_', d2)) AS n_distinct_pairs,
         |  (SELECT CAST(count(*) AS BIGINT) FROM buckets
         |     WHERE n > 1 AND n <= $cap) AS n_multi_buckets,
         |  (SELECT CAST(count(*) AS BIGINT) FROM buckets
         |     WHERE n > $cap) AS n_dropped_buckets
         |FROM pairs""".stripMargin
    }
  }

  /** Persist AND materialize a shared intermediate before a query scans it
    * twice. `.persist()` alone is lazy: when the FIRST job to touch the
    * cache is the multi-consumer query itself, its two scans race on the
    * still-empty cache and both compute every partition — the double-eval
    * the persist exists to prevent. The count() is one cheap extra job that
    * makes the cache real before any consumer plans against it; at cluster
    * scale this is a checkpoint or temp-table write.
    *
    * WHEN to use it — decided by a median-of-5 A/B at sf0.1 (r6, PERF.md):
    * persist only when the shared subtree's compute cost clearly exceeds
    * the cost of writing+reading its output through the cache. l13's gram
    * extraction (char_ngrams over the corpus) wins 3x with the persist
    * (1.50s vs 4.28s); l11's fingerprint build LOSES 2x with it (4.53s vs
    * 2.36s) because the extra cache job costs more than the map passes it
    * saves — Spark's ReusedExchange already de-duplicates the shuffle work
    * between a self-join's two sides; l08 is noise-level either way. So:
    * l13 persists, l08/l11 do not. GRAFT_MATERIALIZE=off disables all
    * persists for future A/Bs.
    */
  private val sharedCaches =
    new java.util.concurrent.ConcurrentLinkedQueue[org.apache.spark.sql.DataFrame]()

  private def materialize(df: org.apache.spark.sql.DataFrame)
  : org.apache.spark.sql.DataFrame =
    if (sys.env.get("GRAFT_MATERIALIZE").contains("off")) df
    else {
      val p = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      p.count()
      sharedCaches.add(p)
      p
    }

  /** Cache contract for `queries` entries that pin a shared intermediate
    * (currently l13): the persist lives until the caller either evaluates
    * the returned DataFrame and calls this, or clears the whole Spark
    * cache. Verify and Bench both do so after each query; library users
    * composing `queries` directly own the same responsibility.
    */
  def releaseShared(): Unit = {
    var df = sharedCaches.poll()
    while (df != null) { df.unpersist(blocking = false); df = sharedCaches.poll() }
  }

  /** The l39/l42 BPE training loop (Sennrich et al. 2016): 3 driver-paced
    * rounds of pair-count → top-1 → framed merge rewrite over the
    * '|'-framed per-word symbol corpus, checkpoint + release per round
    * (see the l39 entry's doc for the full scale story). Returns the
    * learned (step, pair, count) merge table.
    */
  private[graft] def bpeLearnMerges(s: SparkSession,
                                    rounds: Int = 3): Seq[(Int, String, Long)] = {
    // Train over the WORD-FREQUENCY table, not word occurrences — the
    // classic Sennrich formulation: pair counts are freq-weighted sums,
    // identical values, but every round's explode + rewrite touches
    // vocab-sized data (distinct words) instead of corpus-sized. At
    // 100 TB the corpus contributes ONE group-by histogram up front;
    // the whole training loop then runs on the vocabulary.
    var rep = s.sql(
      """SELECT concat('|', regexp_replace(w, '(.)', '$1|')) AS r,
        |  CAST(count(*) AS BIGINT) AS freq
        |FROM (SELECT explode(split(lower(text), ' ')) AS w
        |      FROM documents) ww
        |WHERE w <> ''
        |GROUP BY 1""".stripMargin).localCheckpoint()
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, Long)]
    for (step <- 0 until rounds) {
      rep.createOrReplaceTempView("l39_rep")
      val top = s.sql(
        """SELECT pair, CAST(sum(freq) AS BIGINT) AS cnt FROM (
          |  SELECT freq, explode(transform(sequence(0, size(t) - 2),
          |    i -> concat(t[i], ' ', t[i+1]))) AS pair
          |  FROM (SELECT freq, filter(split(r, '[|]'), x -> x <> '') AS t
          |        FROM l39_rep) tt
          |  WHERE size(t) >= 2
          |) p GROUP BY pair ORDER BY cnt DESC, pair LIMIT 1""".stripMargin)
        .head()
      merges += ((step, top.getString(0), top.getLong(1)))
      val esc = top.getString(0).replace("'", "''")
      val prev = rep
      rep = s.sql(
        s"""SELECT replace(r, concat('|', replace('$esc', ' ', '|'), '|'),
           |                  concat('|', replace('$esc', ' ', ''), '|')) AS r,
           |  freq
           |FROM l39_rep""".stripMargin).localCheckpoint()
      releaseCheckpoint(prev)
    }
    releaseCheckpoint(rep)
    merges.toSeq
  }

  /** The l39b BATCHED BPE training loop (VERDICT r12 task #5): l39 learns
    * one merge per driver round-trip — fine for 3 demo merges, O(vocab)
    * driver loops for a production 50k-merge vocabulary. This variant
    * learns a whole BATCH of merges per round: rank the top-`pool` pairs
    * by count, then greedily keep every pair whose two symbols are
    * disjoint from all ALREADY-KEPT pairs (first-fit matching in rank
    * order — the standard batched-BPE independence rule). Kept pairs are
    * pairwise symbol-disjoint, so their framed replaces commute and one
    * map pass applies the whole batch via aggregate(ms, r, replace).
    * Driver loop count is O(rounds) = O(vocab / batch), not O(vocab):
    * 6 rounds here learn 64+ merges vs l39's 3-in-3. The greedy runs
    * driver-side over the COLLECTED pool (≤`pool` rows, a few KB off a
    * top-K heap — the l33b tuner-choice discipline); the oracle replays
    * the identical first-fit walk as a linear recursive CTE. Returns
    * (round, rk, pair, cnt) with rk = rank in that round's pool.
    */
  private[graft] def bpeLearnMergesBatched(
      s: SparkSession, rounds: Int = 6,
      pool: Int = 96): Seq[(Int, Int, String, Long)] = {
    // word-frequency table, not occurrences — see bpeLearnMerges
    var rep = s.sql(
      """SELECT concat('|', regexp_replace(w, '(.)', '$1|')) AS r,
        |  CAST(count(*) AS BIGINT) AS freq
        |FROM (SELECT explode(split(lower(text), ' ')) AS w
        |      FROM documents) ww
        |WHERE w <> ''
        |GROUP BY 1""".stripMargin).localCheckpoint()
    val merges = scala.collection.mutable.ArrayBuffer
      .empty[(Int, Int, String, Long)]
    for (round <- 0 until rounds) {
      rep.createOrReplaceTempView("l39b_rep")
      val cand = s.sql(
        s"""SELECT pair, cnt, row_number() OVER (ORDER BY cnt DESC, pair) AS rk
           |FROM (
           |  SELECT pair, cnt FROM (
           |    SELECT pair, CAST(sum(freq) AS BIGINT) AS cnt FROM (
           |      SELECT freq, explode(transform(sequence(0, size(t) - 2),
           |        i -> concat(t[i], ' ', t[i+1]))) AS pair
           |      FROM (SELECT freq, filter(split(r, '[|]'), x -> x <> '') AS t
           |            FROM l39b_rep) tt
           |      WHERE size(t) >= 2
           |    ) p GROUP BY pair
           |  ) pc ORDER BY cnt DESC, pair LIMIT $pool
           |) t ORDER BY rk""".stripMargin).collect()
      val used = scala.collection.mutable.Set.empty[String]
      val chosen = scala.collection.mutable.ArrayBuffer.empty[(Int, String)]
      cand.foreach { row =>
        val rk = row.getAs[Int]("rk")
        val pair = row.getAs[String]("pair")
        val Array(s1, s2) = pair.split(" ", 2)
        if (!used(s1) && !used(s2)) {
          chosen += ((rk, pair)); used += s1; used += s2
          merges += ((round, rk, pair, row.getAs[Long]("cnt")))
        }
      }
      import s.implicits._
      chosen.toSeq.toDF("rk", "pair").createOrReplaceTempView("l39b_ch")
      val prev = rep
      rep = s.sql(
        """SELECT aggregate(ms, r, (acc, m) -> replace(acc,
          |    concat('|', replace(m, ' ', '|'), '|'),
          |    concat('|', replace(m, ' ', ''), '|'))) AS r,
          |  freq
          |FROM l39b_rep CROSS JOIN
          |  (SELECT transform(array_sort(collect_list(struct(rk, pair))),
          |            x -> x.pair) AS ms
          |   FROM l39b_ch)""".stripMargin).localCheckpoint()
      releaseCheckpoint(prev)
    }
    releaseCheckpoint(rep)
    merges.toSeq
  }

  /** The l39b oracle: the same `rounds` batched rounds unrolled as DuckDB
    * CTEs — candidate pool via top-K + row_number, the driver's first-fit
    * greedy replayed as a LINEAR recursive CTE (one step per rank,
    * carrying the chosen-symbol list — recursion depth = `pool`, cost
    * independent of the corpus), batch rewrite via list_reduce over the
    * rank-ordered chosen list (replaces commute because chosen pairs are
    * pairwise symbol-disjoint, so one sequential fold == Spark's
    * aggregate fold).
    */
  private[graft] def bpeBatchedOracleSql(rounds: Int = 6,
                                         pool: Int = 96): String = {
    def pairs(src: String) =
      s"""SELECT pair, sum(freq) AS cnt FROM (
         |  SELECT freq, unnest(list_transform(range(len(t) - 1),
         |    i -> t[i+1] || ' ' || t[i+2])) AS pair
         |  FROM (SELECT freq, list_filter(string_split(r, '|'), x -> x <> '') AS t
         |        FROM $src) tt
         |) p GROUP BY pair""".stripMargin
    val sb = new StringBuilder
    sb ++= """WITH RECURSIVE w AS (
             |  SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents
             |), r0 AS MATERIALIZED (
             |  SELECT '|' || regexp_replace(w, '(.)', '\1|', 'g') AS r,
             |    count(*) AS freq
             |  FROM w WHERE w <> '' GROUP BY 1
             |)""".stripMargin
    for (k <- 0 until rounds) {
      def hit = s"""(list_contains(g.used, string_split(c.pair, ' ')[1]) OR
                |       list_contains(g.used, string_split(c.pair, ' ')[2]))""".stripMargin
      sb ++= s""", p$k AS (
                |${pairs(s"r$k")}
                |), c$k AS (
                |  SELECT pair, cnt, row_number() OVER (ORDER BY cnt DESC, pair) AS rk
                |  FROM (SELECT pair, cnt FROM p$k ORDER BY cnt DESC, pair LIMIT $pool) t
                |), g$k AS (
                |  SELECT rk, pair, cnt, string_split(pair, ' ') AS used, TRUE AS ch
                |  FROM c$k WHERE rk = 1
                |  UNION ALL
                |  SELECT c.rk, c.pair, c.cnt,
                |    CASE WHEN $hit THEN g.used
                |         ELSE list_concat(g.used, string_split(c.pair, ' ')) END,
                |    NOT $hit
                |  FROM g$k g JOIN c$k c ON c.rk = g.rk + 1
                |), ch$k AS (
                |  SELECT rk, pair, cnt FROM g$k WHERE ch
                |), chl$k AS (
                |  SELECT list(pair ORDER BY rk) AS ms FROM ch$k
                |), r${k + 1} AS MATERIALIZED (
                |  SELECT list_reduce(list_prepend(r, ms), (acc, m) -> replace(acc,
                |      '|' || replace(m, ' ', '|') || '|',
                |      '|' || replace(m, ' ', '') || '|')) AS r, freq
                |  FROM r$k CROSS JOIN chl$k
                |)""".stripMargin
    }
    val rows = (0 until rounds).map { k =>
      s"""SELECT CAST($k AS INTEGER) AS round, CAST(rk AS INTEGER) AS rk,
         |  pair, CAST(cnt AS BIGINT) AS cnt FROM ch$k""".stripMargin
    }.mkString("\nUNION ALL\n")
    sb ++= s"\nSELECT * FROM (\n$rows\n) u ORDER BY round, rk"
    sb.toString
  }

  /** Release a `localCheckpoint(eager=true)`'s pinned executor-storage
    * blocks once its last consumer has run (the GraftSession
    * releaseCheckpoint discipline, ADVICE r11): the checkpointed plan is
    * a LogicalRDD leaf over the persisted RDD — unpersist exactly that.
    * Dataset.unpersist would be a no-op (the Dataset itself was never
    * persisted). */
  private def releaseCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed.collectLeaves().foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** Max docs per LSH bucket before its pair explosion is skipped: a
    * bucket of n docs emits C(n,2) candidate pairs, so one boilerplate
    * bucket of 100k docs would be 5×10⁹ pairs in a single task. Dropped
    * buckets are counted in the query output (the production recourse is
    * more bands/longer signatures, not silently exploding).
    */
  val LshBucketCap = 64

  /** The l02 pipeline, parameterized by the bucket cap and source view so
    * the skew spec can drive it against a synthetic boilerplate corpus.
    */
  def minhashLshSql(cap: Int, table: String = "documents",
                    hint: String = ""): String =
    s"""WITH mh AS (
       |  -- the whole shingle+minhash loop runs inside the scan as the
       |  -- codegen'd minhash_sigs (spec-asserted equal to the exploded
       |  -- word_ngrams + min-aggregation pipeline, which remains the
       |  -- DuckDB oracle). Partial agg already kept the old shuffle at
       |  -- one row per doc; what the expression removes is the per-
       |  -- shingle row + agg-map work — parity here at 4 hash slots,
       |  -- 1.5x at l02b's 8, 2x at l11b's 64 (PERF.md r7): the win
       |  -- grows with signature width, the production direction.
       |  -- `hint` spreads the map work when the scan layout can't split
       |  SELECT doc_id, minhash_sigs(text, 3, 4) AS hs
       |  FROM (SELECT $hint doc_id, text FROM $table)
       |  WHERE size(split(text, ' ')) >= 3
       |), bands AS (
       |  SELECT doc_id, posexplode(array(concat(hs[0], hs[1]), concat(hs[2], hs[3]))) AS (band, sig)
       |  FROM mh
       |), buckets AS (
       |  SELECT band, sig, sort_array(collect_list(doc_id)) AS ids
       |  FROM bands GROUP BY band, sig
       |), pairs AS (
       |  -- capped buckets contribute ONE sentinel row (d1 = -1) instead of
       |  -- O(n²) pairs; the sentinel is counted, never joined
       |  SELECT band, sig, p.d1, p.d2
       |  FROM buckets
       |  LATERAL VIEW explode(CASE WHEN size(ids) <= $cap THEN
       |    flatten(transform(ids, (x, i) ->
       |      transform(slice(ids, i + 2, size(ids)),
       |        y -> named_struct('d1', x, 'd2', y))))
       |    ELSE array(named_struct('d1', CAST(-1 AS BIGINT), 'd2', CAST(-1 AS BIGINT))) END) t AS p
       |)
       |SELECT count(CASE WHEN d1 >= 0 THEN 1 END) AS n_candidate_pairs,
       |  count(DISTINCT CASE WHEN d1 >= 0 THEN concat(d1, '_', d2) END) AS n_distinct_pairs,
       |  count(DISTINCT CASE WHEN d1 >= 0 THEN concat(band, ':', sig) END) AS n_multi_buckets,
       |  CAST(count(CASE WHEN d1 < 0 THEN 1 END) AS BIGINT) AS n_dropped_buckets
       |FROM pairs""".stripMargin

  /** l26 product-quantization ANN (Jégou et al. 2011, "Product
    * Quantization for Nearest Neighbor Search") — ONE emitter for both
    * dialects, the l12/l24 discipline, so the training math cannot drift.
    *
    * The 64-dim space splits into M=4 16-dim subspaces; each trains its
    * own K=4-centroid codebook with the same deterministic bounded Lloyd's
    * recipe as l12 (stratified `vec_id % 4` seeding, 2 update rounds,
    * round(mean, 6) → float32 — the rounding collapses cross-engine
    * sum-order ulp noise), except under L2 on the subvector, PQ's native
    * objective. A vector's code is its per-subspace nearest centroid →
    * 4 small ints ≈ 4 bytes replacing 256 bytes of float32: the 64×
    * compression is why PQ is the 100 TB ANN memory plan.
    *
    * Serving is ADC (asymmetric distance computation): the query builds a
    * 16-entry LUT of subspace partial dot products, the corpus scan is a
    * codes⨝LUT equi-join + per-vector reduction — map-side, broadcast-LUT,
    * no vector math per row. The ADC top-20 then RERANKS exactly (full
    * cosine on 20 rows) — the standard two-stage production shape.
    * Decimal-typed LUT partials make the per-vector sum exact and
    * order-independent (the l10/e01 decimal-sum convention, here because
    * Catalyst may reduce the 4 subspace partials in any order).
    */
  /** The l26 training+encode chain alone (specs assert code-table shape
    * without re-deriving the serving query — the semDedupAssignSql
    * pattern).
    */
  private[graft] def pqCodesSql(spark: Boolean): String =
    pqSql(spark, emit = "codes")

  /** `emit` selects the tail: "serve" (full ADC query), "codes" (the
    * encode table), "codebook" (the trained per-subspace centroids);
    * `trainSample` trains on the deterministic 1-in-4 sample (the l12b
    * offline-build convention) while still encoding the FULL corpus.
    */
  private[graft] def pqSql(spark: Boolean, emit: String = "serve",
                           trainSample: Boolean = false): String = {
    def dot(a: String, b: String) =
      if (spark) dotSpark(a, b) else dotDuck(a, b)
    s"""WITH ${pqChainCtes(spark, trainSample)}${emit match {
        case "codes" => "\nSELECT vec_id, sub, code FROM codes"
        case "codebook" => "\nSELECT sub, cid, ce FROM pc2"
        case _ => pqServeCtes(dot, pqDot16(spark, _, _))
      }}""".stripMargin
  }

  /** 16-dim subvector dot fold — explicit left fold in index order, the
    * same promotion and IEEE op sequence in both engines.
    */
  private def pqDot16(spark: Boolean, a: String, b: String): String =
    if (spark)
      s"aggregate(zip_with(CAST($a AS ARRAY<DOUBLE>), CAST($b AS ARRAY<DOUBLE>), " +
        s"(x, y) -> x * y), 0d, (acc, v) -> acc + v)"
    else
      s"list_reduce(list_transform(range(16), i -> $a[i+1]::DOUBLE * $b[i+1]::DOUBLE), " +
        s"(x, y) -> x + y)"

  /** The PQ training+encode chain (sub → pseeds → pc0 → … → pc2 → codes)
    * as a WITH-body fragment, shared by pqSql and the composed IVF-PQ
    * oracle so the training math cannot drift between entries.
    */
  private def pqChainCtes(spark: Boolean, trainSample: Boolean,
                          encodeFrom: String = "embeddings"): String = {
    def l216(a: String, b: String) =
      if (spark)
        s"aggregate(zip_with(CAST($a AS ARRAY<DOUBLE>), CAST($b AS ARRAY<DOUBLE>), " +
          s"(x, y) -> (x - y) * (x - y)), 0d, (acc, v) -> acc + v)"
      else
        s"list_reduce(list_transform(range(16), i -> " +
          s"($a[i+1]::DOUBLE - $b[i+1]::DOUBLE) * ($a[i+1]::DOUBLE - $b[i+1]::DOUBLE)), " +
          s"(x, y) -> x + y)"
    // Training reads the sampled subvectors when trainSample is set; the
    // final encode pass always reads the FULL corpus.
    val trainRel = if (trainSample) "subt" else "sub"
    // One L2 assignment pass: (vec_id, sub) -> nearest codebook entry,
    // ties broken deterministically by lowest cid (the ivfAssign rule).
    def assign(name: String, cFrom: String, from: String = "sub") =
      s"""$name AS (
         |  SELECT vec_id, sub, cid AS code FROM (
         |    SELECT t.vec_id, t.sub, t.cid, row_number() OVER (
         |      PARTITION BY t.vec_id, t.sub ORDER BY t.d ASC, t.cid) AS rn
         |    FROM (
         |      SELECT s.vec_id, s.sub, c.cid, ${l216("s.sv", "c.ce")} AS d
         |      FROM $from s JOIN $cFrom c ON s.sub = c.sub) t) r
         |  WHERE rn = 1
         |)""".stripMargin
    // One update pass: (sub, code) -> rounded float32 mean subvector.
    def update(name: String, aFrom: String, from: String = "sub") =
      if (spark)
        s"""$name AS (
           |  SELECT sub, code AS cid,
           |    CAST(transform(array_sort(collect_list(struct(i, m))),
           |      x -> x.m) AS ARRAY<FLOAT>) AS ce
           |  FROM (
           |    SELECT a.sub, a.code, pos + 1 AS i, round(avg(CAST(v AS DOUBLE)), 6) AS m
           |    FROM $aFrom a JOIN $from s ON a.vec_id = s.vec_id AND a.sub = s.sub
           |    LATERAL VIEW posexplode(s.sv) t AS pos, v
           |    GROUP BY a.sub, a.code, pos) u
           |  GROUP BY sub, code
           |)""".stripMargin
      else
        s"""$name AS (
           |  SELECT sub, code AS cid, CAST(list(m ORDER BY i) AS FLOAT[]) AS ce
           |  FROM (
           |    SELECT a.sub, a.code, t.i, round(avg(s.sv[t.i]::DOUBLE), 6) AS m
           |    FROM $aFrom a JOIN $from s ON a.vec_id = s.vec_id AND a.sub = s.sub,
           |      range(1, 17) t(i)
           |    GROUP BY a.sub, a.code, t.i) u
           |  GROUP BY sub, code
           |)""".stripMargin
    // The encode pass reads `encodeFrom` (the live corpus — possibly
    // original ∪ ingested delta, l35); the TRAINING sample always reads
    // the ORIGINAL corpus, so quantizers stay frozen across ingests —
    // production PQ add() semantics: encode new vectors, never retrain.
    val subCte =
      if (spark)
        s"""sub AS (
           |  SELECT vec_id, t.s AS sub, slice(embedding, t.s * 16 + 1, 16) AS sv
           |  FROM $encodeFrom LATERAL VIEW explode(sequence(0, 3)) t AS s
           |)""".stripMargin
      else
        s"""sub AS (
           |  SELECT vec_id, t.s AS sub,
           |    embedding[(t.s * 16 + 1):(t.s * 16 + 16)] AS sv
           |  FROM $encodeFrom CROSS JOIN (SELECT unnest(range(4)) AS s) t
           |)""".stripMargin
    val subtCte =
      if (!trainSample) ""
      else if (encodeFrom == "embeddings")
        ",\nsubt AS (SELECT * FROM sub WHERE vec_id % 4 = 0)"
      else if (spark)
        """,
          |subt AS (
          |  SELECT vec_id, t.s AS sub, slice(embedding, t.s * 16 + 1, 16) AS sv
          |  FROM embeddings LATERAL VIEW explode(sequence(0, 3)) t AS s
          |  WHERE vec_id % 4 = 0
          |)""".stripMargin
      else
        """,
          |subt AS (
          |  SELECT vec_id, t.s AS sub,
          |    embedding[(t.s * 16 + 1):(t.s * 16 + 16)] AS sv
          |  FROM embeddings CROSS JOIN (SELECT unnest(range(4)) AS s) t
          |  WHERE vec_id % 4 = 0
          |)""".stripMargin
    val sampleWhere = if (trainSample) "WHERE vec_id % 4 = 0 " else ""
    // sample-independent stratifier (the ivfTrainCtes rationale): ids
    // ≡ 0 mod 4 hit every (vec_id div 4) % 4 residue, so the sampled
    // build still seeds all K=4 centroids per subspace.
    val idiv = if (spark) "DIV" else "//"
    s"""$subCte$subtCte,
       |pseeds AS (
       |  SELECT CAST((vec_id $idiv 4) % 4 AS INT) AS cid, min(vec_id) AS sv_id
       |  FROM embeddings ${sampleWhere}GROUP BY (vec_id $idiv 4) % 4
       |), pc0 AS (
       |  SELECT s.sub, p.cid, s.sv AS ce
       |  FROM pseeds p JOIN sub s ON s.vec_id = p.sv_id
       |),
       |${assign("pa0", "pc0", trainRel)},
       |${update("pc1", "pa0", trainRel)},
       |${assign("pa1", "pc1", trainRel)},
       |${update("pc2", "pa1", trainRel)},
       |${assign("codes", "pc2")}""".stripMargin
  }

  /** The l26 ADC serving tail (LUT build → code-join scan → exact
    * rerank), shared by both dialects.
    */
  private def pqServeCtes(dot: (String, String) => String,
                          dot16: (String, String) => String): String =
    s""",
       |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
       |qsub AS (SELECT sub, sv AS qv FROM sub WHERE vec_id = 0),
       |lut AS (
       |  SELECT c.sub, c.cid,
       |    CAST(round(${dot16("qs.qv", "c.ce")}, 6) AS DECIMAL(20, 10)) AS pd,
       |    CAST(round(${dot16("c.ce", "c.ce")}, 6) AS DECIMAL(20, 10)) AS cn2
       |  FROM pc2 c JOIN qsub qs ON qs.sub = c.sub
       |), adc AS (
       |  SELECT k.vec_id,
       |    CAST(sum(l.pd) AS DOUBLE) AS num,
       |    CAST(sum(l.cn2) AS DOUBLE) AS vnorm2
       |  FROM codes k JOIN lut l ON k.sub = l.sub AND k.code = l.cid
       |  WHERE k.vec_id <> 0
       |  GROUP BY k.vec_id
       |), cand AS (
       |  SELECT a.vec_id,
       |    a.num / (sqrt(${dot("q.qe", "q.qe")}) * sqrt(a.vnorm2)) AS adc_sim
       |  FROM adc a CROSS JOIN q
       |  ORDER BY adc_sim DESC, a.vec_id
       |  LIMIT 20
       |), rerank AS (
       |  SELECT c.vec_id, c.adc_sim,
       |    ${dot("e.embedding", "q.qe")}
       |      / (sqrt(${dot("e.embedding", "e.embedding")})
       |         * sqrt(${dot("q.qe", "q.qe")})) AS sim
       |  FROM cand c JOIN embeddings e ON e.vec_id = c.vec_id CROSS JOIN q
       |)
       |SELECT vec_id, round(adc_sim, 6) AS adc_sim, round(sim, 6) AS sim
       |FROM rerank ORDER BY sim DESC, vec_id LIMIT 5""".stripMargin

  /** The persisted PQ index for l26b, keyed by a hash of (corpus path,
    * SQL text, layout) so a changed build never reads an older store (the
    * ivfCentroids discipline: deterministic build → reusable store;
    * temp-dir write + atomic rename so a crashed half-write can never be
    * served). TWO tables, because the codes ARE the index: the 16-row
    * codebook, and the corpus codes PIVOTED to one row per vector
    * (vec_id, c0..c3) — the packed-column layout a production PQ index
    * uses, which lets serving do pure map-side LUT lookups with no
    * vec_id-keyed shuffle. Vector-count-sized stores (codes, ivfpq,
    * ivfpql) are written PARTITIONED like any fact table — a vec_id-hash
    * repartition into multiple part files, the layout a 100 TB index
    * store actually has (VERDICT r15 #5); only the 16-row codebook
    * stays a single file. Serving plans are unchanged: a multi-file
    * parquet store is still one map-side scan (PlanAuditSpec pins the
    * serving exchange counts, and PqStoreLayoutSpec pins the layout).
    */
  private[graft] def pqIndexStore(s: SparkSession, dir: String, what: String,
                                  sqlText: String,
                                  singleFile: Boolean = false): DataFrame = {
    val key = java.util.UUID.nameUUIDFromBytes(
      Seq(java.nio.file.Paths.get(dir).toAbsolutePath.toString, sqlText,
        singleFile.toString).mkString("\u0000")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8)).toString
    val store = java.nio.file.Paths.get(
      sys.props("java.io.tmpdir"), s"graft-pq-$what-$key")
    if (!java.nio.file.Files.exists(store)) {
      val tmp = java.nio.file.Files.createTempDirectory(s"graft-pq-$what")
      val df0 = s.sql(sqlText)
      val df = if (singleFile) df0.coalesce(1)
               else df0.repartition(8, org.apache.spark.sql.functions.col("vec_id"))
      // an explicit-width repartition writes its 8 files under AQE too:
      // AQE coalesces and locally reads only exchanges of its own choice
      // (PqStoreLayoutSpec pins the layout)
      df.write.mode("overwrite").parquet(tmp.toString)
      try java.nio.file.Files.move(tmp, store,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      catch {
        case _: java.nio.file.FileAlreadyExistsException
           | _: java.nio.file.DirectoryNotEmptyException
           | _: java.nio.file.AccessDeniedException => ()
      }
    }
    s.read.parquet(store.toString)
  }

  private[graft] def pqIndex(s: SparkSession, dir: String): Unit = {
    pqIndexStore(s, dir, "codebook",
      pqSql(spark = true, emit = "codebook", trainSample = true),
      singleFile = true) // 16 rows: a dimension, not a fact table
      .createOrReplaceTempView("pq_codebook")
    val pivot = (0 until 4)
      .map(i => s"CAST(max(CASE WHEN sub = $i THEN code END) AS INT) AS c$i")
      .mkString(", ")
    pqIndexStore(s, dir, "codes",
      s"SELECT vec_id, $pivot FROM (${
        pqSql(spark = true, emit = "codes", trainSample = true)}) GROUP BY vec_id")
      .createOrReplaceTempView("pq_codes")
  }

  /** l26b's SERVING query over the persisted index: the query vector's
    * 16-entry LUT pivots into ONE broadcast row of per-subspace decimal
    * arrays, and the ADC scan is a map-side pass over `pq_codes` —
    * element_at lookups plus an exact decimal 4-term sum (same value the
    * oracle's sum(DECIMAL) produces) — into a partial top-20, then the
    * 20-row exact-cosine rerank. No training subtree, no Window, no
    * corpus-keyed shuffle anywhere (PlanAuditSpec pins all three).
    */
  private[graft] def pqServedSparkSql: String = {
    def dot16(a: String, b: String) =
      s"aggregate(zip_with(CAST($a AS ARRAY<DOUBLE>), CAST($b AS ARRAY<DOUBLE>), " +
        s"(x, y) -> x * y), 0d, (acc, v) -> acc + v)"
    val pivotCols = (0 until 4).map(i =>
      s"max(CASE WHEN sub = $i THEN pds END) AS p$i,\n    " +
        s"max(CASE WHEN sub = $i THEN cs END) AS n$i").mkString(",\n    ")
    val adcNum = (0 until 4).map(i => s"element_at(l.p$i, k.c$i + 1)").mkString(" + ")
    val adcN2 = (0 until 4).map(i => s"element_at(l.n$i, k.c$i + 1)").mkString(" + ")
    s"""WITH qsub AS (
       |  SELECT t.s AS sub, slice(e.embedding, t.s * 16 + 1, 16) AS qv
       |  FROM embeddings e LATERAL VIEW explode(sequence(0, 3)) t AS s
       |  WHERE e.vec_id = 0
       |), q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
       |lut AS (
       |  SELECT c.sub, c.cid,
       |    CAST(round(${dot16("qs.qv", "c.ce")}, 6) AS DECIMAL(20, 10)) AS pd,
       |    CAST(round(${dot16("c.ce", "c.ce")}, 6) AS DECIMAL(20, 10)) AS cn2
       |  FROM pq_codebook c JOIN qsub qs ON qs.sub = c.sub
       |), luts AS (
       |  SELECT sub,
       |    transform(array_sort(collect_list(struct(cid, pd))), x -> x.pd) AS pds,
       |    transform(array_sort(collect_list(struct(cid, cn2))), x -> x.cn2) AS cs
       |  FROM lut GROUP BY sub
       |), lrow AS (
       |  SELECT $pivotCols
       |  FROM luts
       |), cand AS (
       |  SELECT k.vec_id,
       |    CAST(($adcNum) AS DOUBLE)
       |      / (sqrt(${dotSpark("q.qe", "q.qe")})
       |         * sqrt(CAST(($adcN2) AS DOUBLE))) AS adc_sim
       |  FROM pq_codes k CROSS JOIN lrow l CROSS JOIN q
       |  WHERE k.vec_id <> 0
       |  ORDER BY adc_sim DESC, k.vec_id
       |  LIMIT 20
       |), rerank AS (
       |  SELECT c.vec_id, c.adc_sim,
       |    ${dotSpark("e.embedding", "q.qe")}
       |      / (sqrt(${dotSpark("e.embedding", "e.embedding")})
       |         * sqrt(${dotSpark("q.qe", "q.qe")})) AS sim
       |  FROM cand c JOIN embeddings e ON e.vec_id = c.vec_id CROSS JOIN q
       |)
       |SELECT vec_id, round(adc_sim, 6) AS adc_sim, round(sim, 6) AS sim
       |FROM rerank ORDER BY sim DESC, vec_id LIMIT 5""".stripMargin
  }

  /** The composed IVF-PQ index for l34 — the actual 100 TB ANN shape
    * (FAISS IVFPQ): ONE persisted fact table holding, per vector, its
    * coarse IVF cell (from the v2 centroid store) AND its 4 PQ codes
    * (from the v2 PQ index) — exactly how a production IVFPQ index lays
    * out inverted lists with packed codes. Built once per corpus from
    * the two existing stores (cell assignment map-side, codes joined on
    * vec_id — a build-time-only shuffle); serving then touches ONLY this
    * table: broadcast the query's nprobe cells + LUT, filter + ADC
    * map-side, top-20, 20-row exact rerank.
    */
  private def ivfPqIndex(s: SparkSession, dir: String): Unit = {
    ivfCentroids(s, dir).createOrReplaceTempView("ivf_centroids")
    pqIndex(s, dir)
    def cos(a: String, b: String) =
      s"""${dotSpark(a, b)}
         |        / (sqrt(${dotSpark(a, a)}) * sqrt(${dotSpark(b, b)}))""".stripMargin
    pqIndexStore(s, dir, "ivfpq",
      s"""WITH cs AS (
         |  SELECT collect_list(named_struct('cid', cid, 'ce', ce)) AS cl
         |  FROM ivf_centroids
         |), a AS (
         |  SELECT e.vec_id,
         |    -array_max(transform(cl, c -> named_struct(
         |      's', ${cos("e.embedding", "c.ce")},
         |      'nc', -c.cid))).nc AS cell
         |  FROM embeddings e CROSS JOIN cs
         |)
         |SELECT a.vec_id, a.cell, k.c0, k.c1, k.c2, k.c3
         |FROM a JOIN pq_codes k ON a.vec_id = k.vec_id""".stripMargin)
      .createOrReplaceTempView("ivfpq_index")
  }

  /** l34's SERVING query over the composed index: the query picks its
    * nprobe=2 nearest cells from the centroid store (broadcast-sized),
    * builds the 16-entry decimal LUT (the l26b shape), and the corpus
    * pass is ONE map-side scan of `ivfpq_index` — cell filter + ADC
    * lookups per row, no Window, no training subtree, no corpus-keyed
    * shuffle — into a top-20, then the 20-row exact-cosine rerank.
    */
  /** l35's per-block ENCODER — the SELECT of the index-maintaining
    * materialized view: cell (argmax cosine over the frozen centroid
    * store) and the 4 PQ codes (per-subspace argmin L2 over the frozen
    * codebook), each as ONE expression over a single scan of `src`.
    * The quantizers ride as one-row CROSS JOIN aggregates (broadcast at
    * execution — order-independent because argmax/argmin scan the whole
    * list; scalar subqueries are rejected inside higher-order
    * functions, and the source table stays the SELECT's first top-level
    * FROM, which is what the d11 block substitution keys on);
    * tie-breaks match the oracle's assign rules
    * exactly: struct('s', sim, 'nc', -cid) array_max = max sim then min
    * cid, struct('d', dist, 'cid', cid) array_min = min dist then min
    * cid. No join, no window, no shuffle — per-block index maintenance
    * is map-only, the property that makes MV-driven re-encode viable at
    * ingest rates.
    */
  private[graft] def indexEncodeSparkSql(src: String,
                                         centroids: String = "ivf_centroids",
                                         codebook: String = "pq_codebook"): String = {
    def cos(a: String, b: String) =
      s"${dotSpark(a, b)} / (sqrt(${dotSpark(a, a)}) * sqrt(${dotSpark(b, b)}))"
    def l216(a: String, b: String) =
      s"aggregate(zip_with(CAST($a AS ARRAY<DOUBLE>), CAST($b AS ARRAY<DOUBLE>), " +
        s"(x, y) -> (x - y) * (x - y)), 0d, (acc, v) -> acc + v)"
    val codeCols = (0 until 4).map { i =>
      s"""array_min(transform(cb.b$i,
         |    c -> named_struct(
         |      'd', ${l216(s"slice(embedding, ${i * 16} + 1, 16)", "c.ce")},
         |      'cid', c.cid))).cid AS c$i""".stripMargin
    }.mkString(",\n  ")
    val cbCols = (0 until 4).map(i =>
      s"collect_list(CASE WHEN sub = $i THEN named_struct('cid', cid, 'ce', ce) END) AS b$i")
      .mkString(",\n    ")
    s"""SELECT vec_id,
       |  -array_max(transform(cs.cl,
       |    c -> named_struct('s', ${cos("embedding", "c.ce")},
       |                      'nc', -c.cid))).nc AS cell,
       |  $codeCols
       |FROM $src
       |CROSS JOIN (SELECT collect_list(named_struct('cid', cid, 'ce', ce)) AS cl
       |            FROM $centroids) cs
       |CROSS JOIN (SELECT
       |    $cbCols
       |  FROM $codebook) cb""".stripMargin
  }

  private[graft] def ivfPqServedSparkSql: String =
    ivfPqServedSparkSql("ivfpq_index", "embeddings")

  /** Parameterized form: `index` is the composed (vec_id, cell, c0..c3)
    * fact table — the persisted parquet store for l34, the MV-maintained
    * engine table for l35 — and `corpus` is where the exact-rerank reads
    * live embeddings (the post-ingest table for l35).
    */
  private[graft] def ivfPqServedSparkSql(index: String,
                                         corpus: String,
                                         extraPred: String = "",
                                         finalSelect: String = ""): String = {
    def cos(a: String, b: String) =
      s"""${dotSpark(a, b)}
         |        / (sqrt(${dotSpark(a, a)}) * sqrt(${dotSpark(b, b)}))""".stripMargin
    def dot16(a: String, b: String) = pqDot16(spark = true, a, b)
    val pivotCols = (0 until 4).map(i =>
      s"max(CASE WHEN sub = $i THEN pds END) AS p$i,\n    " +
        s"max(CASE WHEN sub = $i THEN cs END) AS n$i").mkString(",\n    ")
    val adcNum = (0 until 4).map(i => s"element_at(l.p$i, k.c$i + 1)").mkString(" + ")
    val adcN2 = (0 until 4).map(i => s"element_at(l.n$i, k.c$i + 1)").mkString(" + ")
    s"""WITH qsub AS (
       |  SELECT t.s AS sub, slice(e.embedding, t.s * 16 + 1, 16) AS qv
       |  FROM embeddings e LATERAL VIEW explode(sequence(0, 3)) t AS s
       |  WHERE e.vec_id = 0
       |), q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
       |qcells AS (
       |  SELECT c.cid FROM ivf_centroids c CROSS JOIN q
       |  ORDER BY ${cos("c.ce", "q.qe")} DESC, c.cid
       |  LIMIT 2
       |), lut AS (
       |  SELECT c.sub, c.cid,
       |    CAST(round(${dot16("qs.qv", "c.ce")}, 6) AS DECIMAL(20, 10)) AS pd,
       |    CAST(round(${dot16("c.ce", "c.ce")}, 6) AS DECIMAL(20, 10)) AS cn2
       |  FROM pq_codebook c JOIN qsub qs ON qs.sub = c.sub
       |), luts AS (
       |  SELECT sub,
       |    transform(array_sort(collect_list(struct(cid, pd))), x -> x.pd) AS pds,
       |    transform(array_sort(collect_list(struct(cid, cn2))), x -> x.cn2) AS cs
       |  FROM lut GROUP BY sub
       |), lrow AS (
       |  SELECT $pivotCols
       |  FROM luts
       |), cand AS (
       |  SELECT k.vec_id,
       |    CAST(($adcNum) AS DOUBLE)
       |      / (sqrt(${dotSpark("q.qe", "q.qe")})
       |         * sqrt(CAST(($adcN2) AS DOUBLE))) AS adc_sim
       |  FROM $index k CROSS JOIN lrow l CROSS JOIN q
       |  WHERE k.vec_id <> 0 AND k.cell IN (SELECT cid FROM qcells)$extraPred
       |  ORDER BY adc_sim DESC, k.vec_id
       |  LIMIT 20
       |), rerank AS (
       |  SELECT c.vec_id, c.adc_sim,
       |    ${dotSpark("e.embedding", "q.qe")}
       |      / (sqrt(${dotSpark("e.embedding", "e.embedding")})
       |         * sqrt(${dotSpark("q.qe", "q.qe")})) AS sim
       |  FROM cand c JOIN $corpus e ON e.vec_id = c.vec_id CROSS JOIN q
       |)
       |${if (finalSelect.nonEmpty) finalSelect
          else
            """SELECT vec_id, round(adc_sim, 6) AS adc_sim, round(sim, 6) AS sim
              |FROM rerank ORDER BY sim DESC, vec_id LIMIT 5""".stripMargin}""".stripMargin
  }

  /** l34's oracle: the identical IVFPQ semantics recomputed from scratch
    * in DuckDB — both trainings via the shared templates (sampled, what
    * the v2 stores hold), relational cell assignment with the shared
    * tie-break, ADC restricted to the query's 2 probed cells, exact
    * rerank. CTE names don't collide: the IVF chain uses seeds/c0..c2,
    * the PQ chain sub/pseeds/pc0..pc2/codes.
    */
  private[graft] def ivfPqOracleSql: String = ivfPqOracleSql("embeddings", "")

  /** Parameterized form (l35): `corpus` is the post-ingest relation the
    * cell assignment, PQ encode and exact rerank read; training (tr
    * sample, pseeds) ALWAYS reads the original `embeddings` — frozen
    * quantizers, the add-don't-retrain contract the Spark side's
    * MV-maintained index implements. `prelude` injects the corpus CTE.
    */
  private[graft] def ivfPqOracleSql(corpus: String, prelude: String,
                                    filterJoin: String = "",
                                    finalSelect: String = ""): String = {
    def cos(a: String, b: String) =
      s"""${dotDuck(a, b)}
         |      / (sqrt(${dotDuck(a, a)}) * sqrt(${dotDuck(b, b)}))""".stripMargin
    def dot16(a: String, b: String) = pqDot16(spark = false, a, b)
    s"""WITH ${prelude}tr AS (
       |  SELECT vec_id, embedding FROM embeddings WHERE vec_id % 4 = 0
       |),
       |${ivfTrainCtes(spark = false, "tr")},
       |${ivfAssign(spark = false, "assigned", corpus, "c2")},
       |${pqChainCtes(spark = false, trainSample = true, encodeFrom = corpus)},
       |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
       |qsub AS (SELECT sub, sv AS qv FROM sub WHERE vec_id = 0),
       |qcells AS (
       |  SELECT c.cid FROM q CROSS JOIN c2 c
       |  ORDER BY ${cos("c.ce", "q.qe")} DESC, c.cid
       |  LIMIT 2
       |), lut AS (
       |  SELECT c.sub, c.cid,
       |    CAST(round(${dot16("qs.qv", "c.ce")}, 6) AS DECIMAL(20, 10)) AS pd,
       |    CAST(round(${dot16("c.ce", "c.ce")}, 6) AS DECIMAL(20, 10)) AS cn2
       |  FROM pc2 c JOIN qsub qs ON qs.sub = c.sub
       |), adc AS (
       |  SELECT k.vec_id,
       |    CAST(sum(l.pd) AS DOUBLE) AS num,
       |    CAST(sum(l.cn2) AS DOUBLE) AS vnorm2
       |  FROM codes k
       |  JOIN lut l ON k.sub = l.sub AND k.code = l.cid
       |  JOIN assigned a ON a.vec_id = k.vec_id
       |  JOIN qcells qc ON a.cell = qc.cid$filterJoin
       |  WHERE k.vec_id <> 0
       |  GROUP BY k.vec_id
       |), cand AS (
       |  SELECT a.vec_id,
       |    a.num / (sqrt(${dotDuck("q.qe", "q.qe")}) * sqrt(a.vnorm2)) AS adc_sim
       |  FROM adc a CROSS JOIN q
       |  ORDER BY adc_sim DESC, a.vec_id
       |  LIMIT 20
       |), rerank AS (
       |  SELECT c.vec_id, c.adc_sim,
       |    ${cos("e.embedding", "q.qe")} AS sim
       |  FROM cand c JOIN $corpus e ON e.vec_id = c.vec_id CROSS JOIN q
       |)
       |${if (finalSelect.nonEmpty) finalSelect
          else
            """SELECT vec_id, round(adc_sim, 6) AS adc_sim, round(sim, 6) AS sim
              |FROM rerank ORDER BY sim DESC, vec_id LIMIT 5""".stripMargin}""".stripMargin
  }

  /** l43 RAG context assembly — the serving composition a retrieval
    * pipeline runs per query: ANN top-k from the PERSISTED IVF-PQ index
    * (l34's exact path), hydrate the hits with their document text, and
    * greedily pack ranked hits into a fixed token budget (running-sum
    * cutoff at 150 tokens) — the context window that actually ships to
    * the model. Shared tail for both engines; only the tokenizer call
    * differs. 100 TB: everything below the 20-row rerank is
    * constant-size; the documents hydration is a 5-row broadcast-
    * semi-join against the doc store, and the packing window runs over
    * ≤ 5 rows.
    */
  private[graft] def ragContextTail(spark: Boolean,
                                    budget: Int = 150): String = {
    val nw = if (spark) "size(split(d.text, ' '))"
             else "len(string_split(d.text, ' '))"
    s""", topk AS (
       |  SELECT vec_id, round(sim, 6) AS sim,
       |    row_number() OVER (ORDER BY sim DESC, vec_id) AS rnk
       |  FROM rerank ORDER BY sim DESC, vec_id LIMIT 5
       |), ctx AS (
       |  SELECT t.rnk, t.vec_id, t.sim, $nw AS n_tokens
       |  FROM topk t JOIN documents d ON d.doc_id = t.vec_id
       |), packed AS (
       |  SELECT rnk, vec_id, sim, n_tokens,
       |    sum(n_tokens) OVER (ORDER BY rnk
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens
       |  FROM ctx
       |)
       |SELECT CAST(rnk AS INT) AS rnk, vec_id, sim,
       |  CAST(n_tokens AS BIGINT) AS n_tokens,
       |  CAST(cum_tokens AS BIGINT) AS cum_tokens
       |FROM packed WHERE cum_tokens <= $budget ORDER BY rnk""".stripMargin
  }

  /** l27 training-sequence packing — the GPT-style concatenate-and-chunk
    * step: documents tokenize, concatenate in doc_id order, and split
    * into fixed 512-token context windows; a document spans every window
    * its token range overlaps. Output is the per-window census (doc
    * count, doc-id range, token total) — every window except the last
    * must hold exactly 512 tokens, the invariant the spec pins.
    *
    * The two sides are INDEPENDENT formulations of the same prefix-sum:
    * the oracle uses one global window (fine in DuckDB), while the Spark
    * side computes the prefix in two phases — per-bucket window + a
    * bucket-base broadcast join — because a single `ORDER BY doc_id`
    * window over the corpus is a one-partition bottleneck at scale. The
    * oracle match proves the bucketed decomposition exact. 100 TB: phase
    * 1 partitions by bucket (corpus-parallel), the bucket-offset relation
    * is |corpus|/B rows (small side of a broadcast join; B sizes it), and
    * the span explode is map-side.
    */
  private[graft] def packSparkSql: String =
    s"""WITH tok AS (
       |  SELECT doc_id,
       |    CAST(size(regexp_extract_all(text, '[a-z0-9]+', 0)) AS BIGINT) AS n_tok,
       |    doc_id DIV 1024 AS bkt
       |  FROM documents
       |), bsum AS (
       |  SELECT bkt, sum(n_tok) AS tot FROM tok GROUP BY bkt
       |), boff AS (
       |  SELECT bkt, coalesce(sum(tot) OVER (ORDER BY bkt
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS base
       |  FROM bsum
       |), doc AS (
       |  SELECT t.doc_id, t.n_tok,
       |    b.base + coalesce(sum(t.n_tok) OVER (PARTITION BY t.bkt
       |      ORDER BY t.doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
       |  FROM tok t JOIN boff b ON t.bkt = b.bkt
       |), spans AS (
       |  SELECT doc_id, n_tok, off, w.ch,
       |    least((w.ch + 1) * 512, off + n_tok) - greatest(w.ch * 512, off) AS tik
       |  FROM (SELECT * FROM doc WHERE n_tok > 0) d
       |  LATERAL VIEW explode(sequence(off DIV 512,
       |    (off + n_tok - 1) DIV 512)) w AS ch
       |)
       |SELECT CAST(ch AS BIGINT) AS window_id,
       |  CAST(count(*) AS BIGINT) AS n_docs,
       |  min(doc_id) AS first_doc, max(doc_id) AS last_doc,
       |  CAST(sum(tik) AS BIGINT) AS n_tokens
       |FROM spans GROUP BY ch ORDER BY window_id""".stripMargin

  private[graft] def packDuckSql: String =
    s"""WITH tok AS (
       |  SELECT doc_id,
       |    CAST(len(regexp_extract_all(text, '[a-z0-9]+')) AS BIGINT) AS n_tok
       |  FROM documents
       |), doc AS (
       |  -- sum(BIGINT) OVER is HUGEINT in DuckDB; range() needs BIGINT
       |  SELECT doc_id, n_tok,
       |    CAST(coalesce(sum(n_tok) OVER (ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS off
       |  FROM tok
       |), spans AS (
       |  SELECT doc_id, n_tok, off,
       |    unnest(range(off // 512, (off + n_tok - 1) // 512 + 1)) AS ch
       |  FROM doc WHERE n_tok > 0
       |), tiks AS (
       |  SELECT doc_id, ch,
       |    least((ch + 1) * 512, off + n_tok) - greatest(ch * 512, off) AS tik
       |  FROM spans
       |)
       |SELECT CAST(ch AS BIGINT) AS window_id,
       |  CAST(count(*) AS BIGINT) AS n_docs,
       |  min(doc_id) AS first_doc, max(doc_id) AS last_doc,
       |  CAST(sum(tik) AS BIGINT) AS n_tokens
       |FROM tiks GROUP BY ch ORDER BY window_id""".stripMargin

  /** l28 DSIR-style importance weights (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling"), ONE emitter for both
    * dialects: tokens hash into 1024 buckets (48-bit md5 prefix — the
    * repo's portable hash), the target domain (lang='en') and the raw
    * corpus each get add-1-smoothed bucket distributions, and a doc's
    * importance is the mean log-likelihood ratio of its token buckets.
    * Determinism: the per-bucket log ratio rounds to 6 dp and sums as
    * DECIMAL(18,6) — exact, order-independent — before the final double
    * division.
    *
    * 100 TB: the weight table is exactly 1024 rows (broadcast to the
    * scoring pass — hinted below), so the whole pipeline is two linear
    * passes over the token stream: one aggregation to build the bucket
    * histograms, one map-side-joined aggregation to score docs. No
    * all-pairs, no vocabulary-sized state on any single node.
    */
  private def dsirSql(spark: Boolean, spread: String = ""): String = {
    val tok =
      if (spark)
        s"""tok AS (
          |  SELECT doc_id, lang, w
          |  FROM (SELECT $spread doc_id, lang, text FROM documents) d
          |  LATERAL VIEW explode(split(text, ' ')) t AS w
          |  WHERE w <> ''
          |)""".stripMargin
      else
        """tok AS (
          |  SELECT doc_id, lang, w FROM (
          |    SELECT doc_id, lang, unnest(str_split(text, ' ')) AS w
          |    FROM documents) u
          |  WHERE w <> ''
          |)""".stripMargin
    val bucket =
      if (spark) "CAST(conv(substr(md5(w), 1, 12), 16, 10) AS BIGINT) % 1024"
      else "CAST(('0x' || substr(md5(w), 1, 12)) AS BIGINT) % 1024"
    val hint = if (spark) "/*+ BROADCAST(wt) */ " else ""
    s"""WITH $tok, feat AS (
       |  SELECT doc_id, lang, $bucket AS b FROM tok
       |), raw AS (
       |  SELECT b, count(*) AS r FROM feat GROUP BY b
       |), tgt AS (
       |  SELECT b, count(*) AS t FROM feat WHERE lang = 'en' GROUP BY b
       |), tots AS (
       |  SELECT CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS DOUBLE) AS tt,
       |    CAST(count(*) AS DOUBLE) AS rt
       |  FROM feat
       |), wts AS (
       |  SELECT raw.b,
       |    CAST(round(ln(((coalesce(t, 0) + 1.0) / (tt + 1024.0))
       |      / ((r + 1.0) / (rt + 1024.0))), 6) AS DECIMAL(18,6)) AS lw
       |  FROM raw LEFT JOIN tgt ON raw.b = tgt.b CROSS JOIN tots
       |), score AS (
       |  SELECT ${hint}f.doc_id, count(*) AS n_tok,
       |    round(CAST(sum(wt.lw) AS DOUBLE) / count(*), 6) AS imp
       |  FROM feat f JOIN wts wt ON f.b = wt.b
       |  GROUP BY f.doc_id
       |)
       |SELECT s.doc_id, d.lang, CAST(s.n_tok AS BIGINT) AS n_tok, s.imp
       |FROM score s JOIN documents d ON s.doc_id = d.doc_id
       |ORDER BY s.imp DESC, s.doc_id
       |LIMIT 30""".stripMargin
  }

  /** l29 cross-source overlap matrix: per-source MinHash signatures (32
    * permutations via the salted 48-bit md5 hash) estimate pairwise
    * Jaccard between sources over their distinct 40-char stride-10
    * windows (the l25 shingle), with the exact Jaccard computed alongside
    * for every pair — corpus-level contamination/overlap analytics.
    *
    * 100 TB: the signature relation is |sources| × 32 rows — the pairwise
    * comparison is over signatures, never over content. The exact-Jaccard
    * column is the audit path (a shingle-keyed equi-join, one shuffle,
    * pair fan-out bounded by shingle frequency); at petabyte scale one
    * drops the audit and keeps the signature estimate.
    */
  /** l29's distinct (source, window-hash) token relation as a standalone
    * SELECT (spark arm) — consumed four times downstream (sig, sizes, and
    * both sides of the exact-intersection self-join), each consumer
    * otherwise re-running the hash pass AND the DISTINCT shuffle. */
  private[graft] def overlapTokSelect(spread: String): String =
    s"""SELECT DISTINCT source, h FROM (
       |  SELECT source, md5(substr(text, 1 + i * 10, 40)) AS h
       |  FROM (SELECT $spread source, text FROM documents WHERE length(text) >= 40) d
       |  LATERAL VIEW explode(
       |    sequence(0, CAST(floor((length(text) - 40) / 10) AS INT))) t AS i
       |) x""".stripMargin

  private def overlapSql(spark: Boolean, spread: String = "",
                         tokRef: Option[String] = None): String = {
    val wnd =
      if (spark)
        s"""tok AS (
          |  ${overlapTokSelect(spread).replace("\n", "\n  ")}
          |)""".stripMargin
      else
        """tok AS (
          |  SELECT DISTINCT source, h FROM (
          |    SELECT source, md5(substr(text, 1 + i * 10, 40)) AS h
          |    FROM (
          |      SELECT source, text,
          |        unnest(range(0, CAST(floor((length(text) - 40) / 10) AS BIGINT) + 1)) AS i
          |      FROM documents WHERE length(text) >= 40) d
          |  ) x
          |)""".stripMargin
    val perm =
      if (spark) "perm AS (SELECT explode(sequence(0, 31)) AS i)"
      else "perm AS (SELECT unnest(range(32)) AS i)"
    val salted =
      if (spark)
        "CAST(conv(substr(md5(concat(h, '#', i)), 1, 12), 16, 10) AS BIGINT)"
      else "CAST(('0x' || substr(md5(concat(h, '#', i)), 1, 12)) AS BIGINT)"
    // every post-aggregation relation here is <= |sources|^2 rows — hint
    // them broadcast on the Spark side so the final assembly never sorts
    val finalHint = if (spark) "/*+ BROADCAST(i, sa, sb) */ " else ""
    val tk = tokRef.getOrElse("tok")
    val withHead = if (tokRef.isDefined) "WITH " else s"WITH $wnd, "
    s"""$withHead$perm, sig AS (
       |  SELECT source, i, min($salted) AS mh
       |  FROM $tk CROSS JOIN perm
       |  GROUP BY source, i
       |), est AS (
       |  SELECT a.source AS s1, b.source AS s2,
       |    round(CAST(sum(CASE WHEN a.mh = b.mh THEN 1 ELSE 0 END) AS DOUBLE) / 32, 6)
       |      AS est_jaccard
       |  FROM sig a JOIN sig b ON a.i = b.i AND a.source < b.source
       |  GROUP BY a.source, b.source
       |), sizes AS (
       |  SELECT source, count(*) AS nw FROM $tk GROUP BY source
       |), inter AS (
       |  SELECT a.source AS s1, b.source AS s2, count(*) AS iw
       |  FROM $tk a JOIN $tk b ON a.h = b.h AND a.source < b.source
       |  GROUP BY a.source, b.source
       |)
       |SELECT ${finalHint}e.s1, e.s2, e.est_jaccard,
       |  round(CAST(coalesce(i.iw, 0) AS DOUBLE)
       |    / (sa.nw + sb.nw - coalesce(i.iw, 0)), 6) AS exact_jaccard
       |FROM est e
       |LEFT JOIN inter i ON e.s1 = i.s1 AND e.s2 = i.s2
       |JOIN sizes sa ON sa.source = e.s1
       |JOIN sizes sb ON sb.source = e.s2
       |ORDER BY e.s1, e.s2""".stripMargin
  }

  /** l30 bigram-LM scoring (the perplexity-filter curation step — CCNet
    * trains a KenLM on a trusted corpus and buckets documents by
    * perplexity; here the LM is an add-1-smoothed bigram model trained on
    * the lang='en' slice, which keeps BOTH engines exactly computable).
    * Per doc: mean ln P(w_i | w_{i-1}); summands round to 6 dp and sum as
    * DECIMAL so the reduction is order-exact. Bigrams build INSIDE the
    * row (transform over the split array) — map-only until the count
    * join.
    *
    * 100 TB: the model is two count relations bounded by (seen-bigram,
    * unigram) cardinality, joined by key — one shuffle each to build,
    * one bigram-keyed equi-join to score (broadcast when the vocabulary
    * allows, shuffle otherwise; no per-node vocabulary state).
    */
  private def lmSql(spark: Boolean, spread: String = ""): String = {
    val ws = if (spark) "filter(split(text, ' '), x -> x <> '')"
             else "list_filter(str_split(text, ' '), x -> x <> '')"
    val bigs =
      if (spark)
        """transform(sequence(1, size(ws) - 1),
          |      i -> concat(element_at(ws, i), ' ', element_at(ws, i + 1)))""".stripMargin
      else
        """list_transform(range(1, len(ws)),
          |      i -> concat(ws[i], ' ', ws[i + 1]))""".stripMargin
    val explodeBigs =
      if (spark)
        s"""SELECT doc_id, lang, bg FROM w
           |  LATERAL VIEW explode($bigs) t AS bg""".stripMargin
      else
        s"""SELECT doc_id, lang, unnest($bigs) AS bg FROM w""".stripMargin
    val w1 = if (spark) "element_at(split(bg, ' '), 1)"
             else "str_split(bg, ' ')[1]"
    s"""WITH w AS (
       |  SELECT doc_id, lang, $ws AS ws
       |  FROM (SELECT $spread doc_id, lang, text FROM documents) d
       |), big AS (
       |  SELECT doc_id, lang, bg, $w1 AS w1 FROM ($explodeBigs) x
       |), bgc AS (
       |  SELECT bg, count(*) AS c FROM big WHERE lang = 'en' GROUP BY bg
       |), unic AS (
       |  SELECT w1, count(*) AS c1 FROM big WHERE lang = 'en' GROUP BY w1
       |), v AS (
       |  SELECT CAST(count(DISTINCT w1) AS DOUBLE) AS nv FROM big WHERE lang = 'en'
       |), scored AS (
       |  SELECT b.doc_id, b.lang,
       |    CAST(round(ln((coalesce(bgc.c, 0) + 1.0)
       |      / (coalesce(unic.c1, 0) + nv)), 6) AS DECIMAL(18,6)) AS lp
       |  FROM big b
       |  LEFT JOIN bgc ON b.bg = bgc.bg
       |  LEFT JOIN unic ON b.w1 = unic.w1
       |  CROSS JOIN v
       |), docs AS (
       |  SELECT doc_id, lang, count(*) AS n_big,
       |    round(CAST(sum(lp) AS DOUBLE) / count(*), 6) AS mean_lp
       |  FROM scored GROUP BY doc_id, lang
       |)
       |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(round(CAST(sum(CAST(mean_lp AS DECIMAL(18,6))) AS DOUBLE)
       |    / count(*), 6) AS DOUBLE) AS avg_mean_lp,
       |  round(min(mean_lp), 6) AS worst, round(max(mean_lp), 6) AS best
       |FROM docs GROUP BY lang
       |ORDER BY lang""".stripMargin
  }

  /** l31 content-defined chunking (the RAG-passage / CDC-dedup step —
    * FastCDC/rolling-hash segmentation): a chunk boundary opens at
    * position i when the 8-char window hash ≡ 0 (mod 64) and the current
    * chunk is ≥ 32 chars, with a 256-char forced split — boundaries
    * derive from CONTENT, so an edit shifts only its own chunk (the
    * property fixed-size chunking lacks). The greedy boundary scan is
    * one codegen'd rolling-hash pass per document ([[graft.functions
    * .CdcOps]] — Karp-Rabin over code points, O(1) per position); the
    * DuckDB oracle recomputes each window hash as the 8-term integer
    * polynomial and replays the same greedy rule relationally. Chunks
    * then hash and dedup across documents, which is the CDC payoff:
    * shared passages share chunk hashes.
    *
    * 100 TB: the scan is per-doc map work inside whole-stage codegen;
    * the only shuffle is the chunk-hash dedup, uniform by construction.
    */
  /** The CDC boundary scan — shared by the batch l31 entry and the
    * streaming chunker twin so the boundary semantics cannot drift. One
    * codegen'd rolling-hash pass ([[graft.functions.CdcOps]]); the rule
    * (8-char window, polynomial hash mod 1e9+7, %64 gate, min 32, forced
    * 256) is restated relationally for DuckDB in [[cdcCandidateSql]].
    */
  private[graft] def cdcStartsExpr(text: String): String =
    s"cdc_starts($text)"

  /** The same window hash as an 8-term integer polynomial for DuckDB:
    * sum of code points times 257^(7-j) mod 1e9+7 (constants pre-reduced
    * so every term stays far under 2^63). `i` is the 1-based window
    * start; requires i+7 <= len.
    */
  private def cdcCandidateSql(text: String, i: String): String = {
    // 257^7..257^0 mod 1e9+7
    val cs = Seq(13163680L, 805498697L, 154885210L, 362470373L,
      16974593L, 66049L, 257L, 1L)
    val terms = cs.zipWithIndex.map { case (c, j) =>
      val pos = if (j == 0) i else s"$i + $j"
      // the BIGINT cast matters: DuckDB's ascii() is INT32 and the term
      // product overflows INT32 (Spark's ascii already widens)
      if (c == 1L) s"CAST(ascii(substr($text, $pos, 1)) AS BIGINT)"
      else s"CAST(ascii(substr($text, $pos, 1)) AS BIGINT) * $c"
    }
    s"(${terms.mkString(" + ")}) % 1000000007 % 64 = 0"
  }

  private def cdcSql(spark: Boolean, spread: String = ""): String =
    if (spark)
      s"""WITH d AS (
         |  SELECT $spread doc_id, source, text, length(text) AS len
         |  FROM documents
         |), b AS (
         |  SELECT doc_id, source, text, len,
         |    ${cdcStartsExpr("text")} AS starts
         |  FROM d
         |), chunks AS (
         |  SELECT doc_id, source, sp.st AS st, sp.ln AS ln,
         |    md5(substr(text, sp.st, sp.ln)) AS ch
         |  FROM b
         |  LATERAL VIEW explode(transform(sequence(1, size(starts)),
         |    k -> struct(element_at(starts, k) AS st,
         |      IF(k < size(starts), element_at(starts, k + 1), len + 1)
         |        - element_at(starts, k) AS ln))) t AS sp
         |)
         |SELECT source,
         |  CAST(count(*) AS BIGINT) AS n_chunks,
         |  CAST(count(DISTINCT ch) AS BIGINT) AS n_distinct,
         |  CAST(min(ln) AS INT) AS min_len,
         |  CAST(max(ln) AS INT) AS max_len,
         |  round(avg(CAST(ln AS DOUBLE)), 4) AS mean_len
         |FROM chunks GROUP BY source ORDER BY source""".stripMargin
    else
      s"""WITH RECURSIVE d AS (
        |  SELECT doc_id, source, text, length(text) AS len FROM documents
        |), cand AS (
        |  SELECT doc_id, i FROM (
        |    SELECT doc_id, text, len, unnest(range(1, len + 1)) AS i FROM d) x
        |  WHERE i + 7 <= len
        |    AND ${cdcCandidateSql("text", "i")}
        |), bnd AS (
        |  SELECT doc_id, len, 1 AS st FROM d
        |  UNION ALL
        |  SELECT * FROM (
        |    SELECT b.doc_id, b.len,
        |      coalesce(
        |        (SELECT min(c.i) FROM cand c
        |         WHERE c.doc_id = b.doc_id AND c.i - b.st >= 32
        |           AND c.i - b.st < 256),
        |        CASE WHEN b.st + 256 <= b.len THEN b.st + 256 END) AS st
        |    FROM bnd b) nxt
        |  WHERE st IS NOT NULL
        |), spans AS (
        |  SELECT doc_id, st,
        |    coalesce(lead(st) OVER (PARTITION BY doc_id ORDER BY st),
        |      len + 1) - st AS ln
        |  FROM bnd
        |), chunks AS (
        |  SELECT s.doc_id, d.source, s.st, s.ln,
        |    md5(substr(d.text, s.st, s.ln)) AS ch
        |  FROM spans s JOIN d ON s.doc_id = d.doc_id
        |)
        |SELECT source,
        |  CAST(count(*) AS BIGINT) AS n_chunks,
        |  CAST(count(DISTINCT ch) AS BIGINT) AS n_distinct,
        |  CAST(min(ln) AS INT) AS min_len,
        |  CAST(max(ln) AS INT) AS max_len,
        |  round(avg(CAST(ln AS DOUBLE)), 4) AS mean_len
        |FROM chunks GROUP BY source ORDER BY source""".stripMargin

  /** l32 mixture sampling to a token budget — the data-mixing step of a
    * training run (each source gets a target share of the token budget;
    * the sampler must hit the allocation deterministically):
    *   - per-source weights w_i (declared in-query), allocations by
    *     LARGEST REMAINDER: floor(B·w_i/W) + one extra token for the
    *     sources with the largest fractional parts until the budget sums
    *     exactly — the standard apportionment method, fully relational;
    *   - within a source, docs order by md5(doc_id) (a deterministic
    *     shuffle) and are taken while the running token count stays
    *     inside the allocation — greedy prefix, no partial docs.
    * ONE emitter both dialects. 100 TB: allocations are a |sources|-row
    * computation; selection is one per-source window over doc token
    * counts — no global sort, no all-pairs.
    */
  private def mixSql(spark: Boolean): String = {
    val budget = 30000
    val tokCount =
      if (spark) "size(filter(split(text, ' '), x -> x <> ''))"
      else "len(list_filter(str_split(text, ' '), x -> x <> ''))"
    val srcNum =
      if (spark) "CAST(substr(source, 4) AS INT)"
      else "CAST(substr(source, 4) AS INT)"
    s"""WITH d AS (
       |  SELECT doc_id, source, $tokCount AS toks FROM documents
       |), w AS (
       |  SELECT source, CAST(($srcNum % 4) + 1 AS DOUBLE) AS wt FROM d GROUP BY source
       |), tw AS (
       |  SELECT sum(wt) AS total_w FROM w
       |), fl AS (
       |  SELECT w.source, wt,
       |    floor($budget * wt / total_w) AS base,
       |    $budget * wt / total_w - floor($budget * wt / total_w) AS frac
       |  FROM w CROSS JOIN tw
       |), topup AS (
       |  SELECT source, base, frac,
       |    row_number() OVER (ORDER BY frac DESC, source) AS rk,
       |    (SELECT $budget - sum(base) FROM fl) AS short
       |  FROM fl
       |), alloc AS (
       |  SELECT source,
       |    CAST(base + CASE WHEN rk <= short THEN 1 ELSE 0 END AS BIGINT) AS alloc
       |  FROM topup
       |), ranked AS (
       |  SELECT doc_id, source, toks,
       |    sum(toks) OVER (PARTITION BY source
       |      ORDER BY md5(CAST(doc_id AS STRING)), doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |  FROM d
       |), picked AS (
       |  SELECT r.source, r.doc_id, r.toks, a.alloc
       |  FROM ranked r JOIN alloc a ON r.source = a.source
       |  WHERE r.cum <= a.alloc
       |)
       |SELECT a.source, a.alloc,
       |  CAST(count(p.doc_id) AS BIGINT) AS n_docs,
       |  CAST(coalesce(sum(p.toks), 0) AS BIGINT) AS achieved
       |FROM alloc a LEFT JOIN picked p ON a.source = p.source
       |GROUP BY a.source, a.alloc
       |ORDER BY a.source""".stripMargin
  }

  /** l33 LSH quality evaluation — the tune-your-dedup harness: over a
    * FIXED 100-doc evaluation panel (budget-stable at any corpus size),
    * compute exact 3-gram Jaccard for every panel pair (the ground
    * truth, affordable only because the panel is fixed) and the l02b
    * production banding's candidate pairs (8 min-hashes, 4 bands × 2),
    * then report recall/precision of the banding against truth at
    * J ≥ 0.3. This is how an operator chooses band/row counts before
    * unleashing the pipeline on the full corpus.
    */
  private def lshEvalSql(spark: Boolean): String = {
    val toks = if (spark) "split(text, ' ')" else "string_split(text, ' ')"
    val sizeF = if (spark) "size" else "len"
    val shingles =
      if (spark)
        """SELECT doc_id, sh FROM p
          |  LATERAL VIEW explode(transform(sequence(1, size(t) - 2),
          |    i -> array_join(slice(t, i, 3), ' '))) x AS sh""".stripMargin
      else
        """SELECT doc_id, unnest(list_transform(range(1, len(t) - 1),
          |    i -> array_to_string(t[i:i+2], ' '))) AS sh FROM p""".stripMargin
    val sig = (0 until 8).map(k =>
      s"min(substr(md5(concat(sh, '#$k')), 1, 8)) AS h$k").mkString(",\n       |    ")
    // spark arm: map-side codegen'd signatures + broadcasts of the
    // panel-bounded sides (same rationale as lshAutoTuneSql — the
    // min-hash formula equivalence is the l02/l02b oracle-gated one)
    val mh =
      if (spark)
        """mh AS (
          |  SELECT doc_id, minhash_sigs(array_join(t, ' '), 3, 8) AS hs
          |  FROM p
          |)""".stripMargin
      else
        s"""mh AS (
          |  SELECT doc_id,
          |    $sig
          |  FROM sh GROUP BY doc_id
          |)""".stripMargin
    val bandsCte =
      if (spark)
        """bands AS (
          |  SELECT doc_id, bd.k, bd.sig
          |  FROM mh
          |  LATERAL VIEW explode(transform(sequence(0, 3), j ->
          |    named_struct('k', j, 'sig',
          |      array_join(slice(hs, j * 2 + 1, 2), '')))) t AS bd
          |)""".stripMargin
      else
        """bands AS (
          |  SELECT doc_id, 0 AS k, concat(h0, h1) AS sig FROM mh
          |  UNION ALL SELECT doc_id, 1, concat(h2, h3) FROM mh
          |  UNION ALL SELECT doc_id, 2, concat(h4, h5) FROM mh
          |  UNION ALL SELECT doc_id, 3, concat(h6, h7) FROM mh
          |)""".stripMargin
    val bc = (n: String) => if (spark) s"/*+ BROADCAST($n) */ " else ""
    val tail =
      if (spark)
        "IF(doc_id % 2 = 0, slice(t, 3, size(t)), " +
          "slice(t, size(t) DIV 2, size(t)))"
      else
        "CASE WHEN doc_id % 2 = 0 THEN t[3:len(t)] " +
          "ELSE t[len(t) // 2:len(t)] END"
    s"""WITH p0 AS (
       |  SELECT doc_id, $toks AS t FROM documents
       |  WHERE doc_id % 5 = 0 AND doc_id < 500 AND $sizeF($toks) >= 8
       |), p AS (
       |  -- the panel carries KNOWN near-dups by construction: each doc
       |  -- plus a copy missing its first two words (high Jaccard) or its
       |  -- first half (near the 0.3 threshold) — the mix makes recall a
       |  -- real curve, not a vacuous 1.0
       |  SELECT doc_id, t FROM p0
       |  UNION ALL
       |  SELECT doc_id + 1000000, $tail FROM p0
       |), sh0 AS (
       |  $shingles
       |), sh AS (
       |  SELECT DISTINCT doc_id, sh FROM sh0
       |), sz AS (
       |  SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
       |), inter AS (
       |  SELECT ${bc("b")}a.doc_id AS d1, b.doc_id AS d2, count(*) AS iw
       |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
       |  GROUP BY a.doc_id, b.doc_id
       |), truth AS (
       |  SELECT ${bc("sa")}${bc("sb")}d1, d2 FROM inter
       |  JOIN sz sa ON sa.doc_id = d1
       |  JOIN sz sb ON sb.doc_id = d2
       |  WHERE CAST(iw AS DOUBLE) / (sa.n + sb.n - iw) >= 0.3
       |), $mh, $bandsCte, cand AS (
       |  SELECT ${bc("b")}DISTINCT a.doc_id AS d1, b.doc_id AS d2
       |  FROM bands a JOIN bands b
       |    ON a.k = b.k AND a.sig = b.sig AND a.doc_id < b.doc_id
       |), hit AS (
       |  SELECT ${bc("t")}c.d1, c.d2 FROM cand c JOIN truth t
       |    ON c.d1 = t.d1 AND c.d2 = t.d2
       |)
       |SELECT CAST((SELECT count(*) FROM p) AS BIGINT) AS n_panel,
       |  CAST((SELECT count(*) FROM truth) AS BIGINT) AS n_truth,
       |  CAST((SELECT count(*) FROM cand) AS BIGINT) AS n_cand,
       |  CAST((SELECT count(*) FROM hit) AS BIGINT) AS n_hit,
       |  round(CAST((SELECT count(*) FROM hit) AS DOUBLE)
       |    / greatest((SELECT count(*) FROM truth), 1), 4) AS recall,
       |  round(CAST((SELECT count(*) FROM hit) AS DOUBLE)
       |    / greatest((SELECT count(*) FROM cand), 1), 4) AS precision""".stripMargin
  }

  /** l33b LSH auto-tuner (VERDICT r10 task #6, carried to r12): sweep
    * (bands, rows-per-band) configurations over the SAME fixed panel as
    * l33 — 16 min-hashes per panel doc, config (b, r) assembling band j
    * from hashes [j·r, (j+1)·r) — and CHOOSE the cheapest configuration
    * meeting the recall target, the way [[decontaminationShape]] picks
    * l19-vs-l22. "Cheapest" is candidate-pair count (the cost that
    * actually scales: corpus pair fan-out), tie-broken by signature
    * width (map-side hash work) then band count; if no config reaches
    * the target, the max-recall config wins. The whole sweep — panel,
    * exact-Jaccard truth, per-config banding via a lambda over the
    * config row, metrics, winner rank — is ONE declarative query in both
    * engines, so the choice itself is oracle-gated. 100 TB: the panel is
    * fixed-size, so tuning cost is corpus-independent; only the chosen
    * config's one-pass banding ever touches the corpus (l02c).
    */
  private[graft] def lshAutoTuneSql(spark: Boolean,
                                    recallTarget: Double = 0.9): String = {
    val panel =
      if (spark)
        """p0 AS (
          |  SELECT doc_id, split(text, ' ') AS t FROM documents
          |  WHERE doc_id % 5 = 0 AND doc_id < 500
          |    AND size(split(text, ' ')) >= 8
          |), p AS (
          |  SELECT doc_id, t FROM p0
          |  UNION ALL
          |  SELECT doc_id + 1000000, IF(doc_id % 2 = 0,
          |    slice(t, 3, size(t)), slice(t, size(t) DIV 2, size(t)))
          |  FROM p0
          |), sh0 AS (
          |  SELECT doc_id, sh FROM p
          |  LATERAL VIEW explode(transform(sequence(1, size(t) - 2),
          |    i -> array_join(slice(t, i, 3), ' '))) x AS sh
          |), sh AS (
          |  SELECT DISTINCT doc_id, sh FROM sh0
          |)""".stripMargin
      else
        """p0 AS (
          |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
          |  WHERE doc_id % 5 = 0 AND doc_id < 500
          |    AND len(string_split(text, ' ')) >= 8
          |), p AS (
          |  SELECT doc_id, t FROM p0
          |  UNION ALL
          |  SELECT doc_id + 1000000, CASE WHEN doc_id % 2 = 0
          |    THEN t[3:len(t)] ELSE t[len(t) // 2:len(t)] END
          |  FROM p0
          |), sh0 AS (
          |  SELECT doc_id, unnest(list_transform(range(1, len(t) - 1),
          |    i -> array_to_string(t[i:i+2], ' '))) AS sh FROM p
          |), sh AS (
          |  SELECT DISTINCT doc_id, sh FROM sh0
          |)""".stripMargin
    val hl =
      if (spark)
        // Map-side signatures: the codegen'd minhash_sigs computes the
        // SAME min(substr(md5(shingle || '#' || k), 1, 8)) per k inside
        // the row (the l02/l02b-proven equivalence, oracle-gated), so
        // the sweep's signature arm needs NO shingle explode + 16-way
        // cross join + re-aggregation shuffle. The panel docs are
        // re-joined to text via array_join(t, ' ') — t came from
        // split(text, ' '), and the variants are slices of it, so the
        // round-trip is token-exact.
        """hl AS (
          |  SELECT doc_id, minhash_sigs(array_join(t, ' '), 3, 16) AS hs
          |  FROM p
          |)""".stripMargin
      else
        """hl AS (
          |  SELECT doc_id, ks.k,
          |    min(substr(md5(concat(sh, '#', ks.k)), 1, 8)) AS h
          |  FROM sh CROSS JOIN range(0, 16) ks(k)
          |  GROUP BY doc_id, ks.k
          |)""".stripMargin
    val cfgRows = "(1,1),(2,1),(4,1),(8,1),(16,1),(2,2),(4,2),(8,2),(2,4),(4,4),(2,8)"
    val cfg =
      if (spark) s"cfg AS (SELECT * FROM VALUES $cfgRows AS c(b, r))"
      else s"cfg AS (SELECT * FROM (VALUES $cfgRows) c(b, r))"
    // per-(doc, config, band) signature: ordered concat of that band's
    // hashes — Spark states the ordering via array_sort over (k, h)
    // structs, DuckDB via string_agg's ORDER BY; both are the k-ordered
    // concatenation
    val bands =
      if (spark)
        // band j of config (b, r) = k-ordered concat of hashes
        // [j*r, (j+1)*r) — sliced straight off the per-doc signature
        // array (slice() is 1-based), no collect_list/GROUP BY shuffle
        """bands AS (
          |  SELECT doc_id, c.b, c.r, bd.band, bd.sig
          |  FROM hl CROSS JOIN cfg c
          |  LATERAL VIEW explode(transform(sequence(0, c.b - 1), j ->
          |    named_struct('band', j, 'sig',
          |      array_join(slice(hs, j * c.r + 1, c.r), '')))) t AS bd
          |)""".stripMargin
      else
        """bands AS (
          |  SELECT hl.doc_id, c.b, c.r, CAST(hl.k // c.r AS INT) AS band,
          |    string_agg(hl.h, '' ORDER BY hl.k) AS sig
          |  FROM hl CROSS JOIN cfg c
          |  WHERE hl.k < c.b * c.r
          |  GROUP BY hl.doc_id, c.b, c.r, CAST(hl.k // c.r AS INT)
          |)""".stripMargin
    // BROADCAST hints (spark arm only — comment-no-ops to DuckDB are
    // avoided by interpolating them conditionally): every hinted side is
    // PANEL-bounded (the fixed ~200-doc evaluation panel and relations
    // derived from it), so the hint is the correct plan at any corpus
    // size — it removes the SortMergeJoin exchange+sort pairs Catalyst
    // otherwise plans for these stat-less tiny relations (guide §3.1).
    val bc = (n: String) => if (spark) s"/*+ BROADCAST($n) */ " else ""
    s"""WITH $panel, sz AS (
       |  SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
       |), inter AS (
       |  SELECT ${bc("b")}a.doc_id AS d1, b.doc_id AS d2, count(*) AS iw
       |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
       |  GROUP BY a.doc_id, b.doc_id
       |), truth AS (
       |  SELECT ${bc("sa")}${bc("sb")}d1, d2 FROM inter
       |  JOIN sz sa ON sa.doc_id = d1
       |  JOIN sz sb ON sb.doc_id = d2
       |  WHERE CAST(iw AS DOUBLE) / (sa.n + sb.n - iw) >= 0.3
       |), $hl, $cfg, $bands, cand AS (
       |  SELECT ${bc("b2")}DISTINCT a.b, a.r, a.doc_id AS d1, b2.doc_id AS d2
       |  FROM bands a JOIN bands b2 ON a.b = b2.b AND a.r = b2.r
       |    AND a.band = b2.band AND a.sig = b2.sig AND a.doc_id < b2.doc_id
       |), agg AS (
       |  SELECT cfg.b, cfg.r, coalesce(x.n_cand, 0) AS n_cand,
       |    coalesce(x.n_hit, 0) AS n_hit
       |  FROM cfg LEFT JOIN (
       |    SELECT ${bc("t")}c.b, c.r, count(*) AS n_cand, count(t.d1) AS n_hit
       |    FROM cand c LEFT JOIN truth t ON c.d1 = t.d1 AND c.d2 = t.d2
       |    GROUP BY c.b, c.r) x ON x.b = cfg.b AND x.r = cfg.r
       |), nt AS (
       |  SELECT count(*) AS n FROM truth
       |), scored AS (
       |  SELECT b, r, n_cand, n_hit,
       |    CAST(n_hit AS DOUBLE) / greatest(nt.n, 1) AS recall,
       |    CAST(n_hit AS DOUBLE) / greatest(n_cand, 1) AS prec
       |  FROM agg CROSS JOIN nt
       |), ranked AS (
       |  SELECT *, row_number() OVER (ORDER BY
       |      CASE WHEN recall >= $recallTarget THEN 0 ELSE 1 END,
       |      CASE WHEN recall >= $recallTarget THEN CAST(n_cand AS DOUBLE)
       |           ELSE -recall END,
       |      b * r, b) AS rk
       |  FROM scored
       |)
       |SELECT CAST(b AS BIGINT) AS bands, CAST(r AS BIGINT) AS rows_per_band,
       |  CAST(n_cand AS BIGINT) AS n_cand, CAST(n_hit AS BIGINT) AS n_hit,
       |  round(recall, 4) AS recall, round(prec, 4) AS precision,
       |  CAST(CASE WHEN rk = 1 THEN 1 ELSE 0 END AS INT) AS chosen
       |FROM ranked ORDER BY bands, rows_per_band""".stripMargin
  }

  /** The auto-tuner's decision as l02c's parameters: session conf
    * `graft.lsh.config` ("BxR" — forced arms for specs/A-Bs), else run
    * the panel sweep and collect the winner (a fixed-size, corpus-
    * independent job — the [[decontaminationShape]] precedent).
    */
  private[graft] def lshAutoTuneChoice(s: SparkSession): (Int, Int) =
    s.conf.getOption("graft.lsh.config").map { v =>
      val Array(b, r) = v.toLowerCase.split("x").map(_.trim.toInt)
      (b, r)
    }.getOrElse {
      val row = s.sql(lshAutoTuneSql(spark = true))
        .filter(org.apache.spark.sql.functions.col("chosen") === 1)
        .select("bands", "rows_per_band").head()
      (row.getLong(0).toInt, row.getLong(1).toInt)
    }

  /** l02c's DuckDB oracle: recompute the sweep's winner INLINE (the same
    * ranked CTE as l33b — deterministic, so both engines make the same
    * choice) and run the corpus banding parameterized by that one-row
    * choice: band j of config (b, r) is hashes [j·r, (j+1)·r), exactly
    * [[minhashLshSqlN]]'s layout, so the Spark side can keep its static
    * codegen'd minhash_sigs form for whatever config won.
    */
  private[graft] def lshTunedCorpusSql(cap: Int): String = {
    val sweep = lshAutoTuneSql(spark = false)
    val ctes = sweep.substring(sweep.indexOf("WITH ") + 5,
      sweep.lastIndexOf("\nSELECT CAST(b AS BIGINT)"))
    s"""WITH $ctes, ch AS (
       |  SELECT b, r FROM ranked WHERE rk = 1
       |), corpus AS (
       |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
       |  WHERE len(string_split(text, ' ')) >= 3
       |), csh AS (
       |  SELECT doc_id, unnest(list_transform(range(len(t) - 2),
       |    i -> array_to_string(t[i+1:i+3], ' '))) AS s
       |  FROM corpus
       |), cmh AS (
       |  SELECT doc_id, ks.k, min(substr(md5(concat(s, '#', ks.k)), 1, 8)) AS h
       |  FROM csh CROSS JOIN range(0, 16) ks(k)
       |  WHERE ks.k < (SELECT b * r FROM ch)
       |  GROUP BY doc_id, ks.k
       |), cbands AS (
       |  SELECT m.doc_id, CAST(m.k // ch.r AS INT) AS band,
       |    string_agg(m.h, '' ORDER BY m.k) AS sig
       |  FROM cmh m CROSS JOIN ch
       |  GROUP BY m.doc_id, CAST(m.k // ch.r AS INT)
       |), buckets AS (
       |  SELECT band, sig, count(*) AS n FROM cbands GROUP BY band, sig
       |), pairs AS (
       |  SELECT a.doc_id AS d1, b2.doc_id AS d2
       |  FROM cbands a JOIN cbands b2
       |    ON a.band = b2.band AND a.sig = b2.sig AND a.doc_id < b2.doc_id
       |  JOIN buckets k ON k.band = a.band AND k.sig = a.sig AND k.n <= $cap
       |)
       |SELECT count(*) AS n_candidate_pairs,
       |  count(DISTINCT concat(d1, '_', d2)) AS n_distinct_pairs,
       |  (SELECT CAST(count(*) AS BIGINT) FROM buckets
       |     WHERE n > 1 AND n <= $cap) AS n_multi_buckets,
       |  (SELECT CAST(count(*) AS BIGINT) FROM buckets
       |     WHERE n > $cap) AS n_dropped_buckets
       |FROM pairs""".stripMargin
  }

  /** l37 hybrid retrieval — BM25 keyword arm + brute-force-cosine ANN
    * arm, fused by reciprocal-rank fusion (RRF, k=60): the curation/
    * retrieval shape production pipelines use to pick training or eval
    * candidates when neither lexical nor embedding signal alone is
    * trusted. Determinism across engines: each term's BM25 contribution
    * is rounded to 9 dp and summed as DECIMAL (order-independent exact
    * sum — the l26b LUT discipline), ranks break ties on id, and the
    * fused score is an explicit two-term sum of rank reciprocals.
    * 100 TB: both arms are one corpus pass each (tf/dl map-side with a
    * broadcast 3-term df relation; cosine map-side with the query
    * broadcast) into top-50 TakeOrdered heaps; the fuse joins two
    * 50-row relations — broadcast trivially.
    */
  private[graft] def hybridRrfSql(spark: Boolean): String = {
    val terms = Seq("window", "filter", "hash")
    val termList = terms.map(t => s"'$t'").mkString("(", ", ", ")")
    val toks = if (spark) "explode(split(text, ' ')) AS tok"
               else "unnest(string_split(text, ' ')) AS tok"
    val sizeTok = if (spark) "size(split(text, ' '))"
                  else "len(string_split(text, ' '))"
    val annSim =
      if (spark) s"""${dotSpark("e.embedding", "q.qe")}
                    |      / (sqrt(${dotSpark("e.embedding", "e.embedding")})
                    |         * sqrt(${dotSpark("q.qe", "q.qe")}))""".stripMargin
      else s"""${dotDuck("e.embedding", "q.qe")}
              |      / (sqrt(${dotDuck("e.embedding", "e.embedding")})
              |         * sqrt(${dotDuck("q.qe", "q.qe")}))""".stripMargin
    s"""WITH tok AS (
       |  SELECT doc_id, $toks FROM documents
       |), dl AS (
       |  SELECT doc_id, $sizeTok AS n FROM documents
       |), st AS (
       |  SELECT CAST(count(*) AS DOUBLE) AS nd,
       |    CAST(sum(n) AS DOUBLE) / count(*) AS avgdl
       |  FROM dl
       |), tf AS (
       |  SELECT doc_id, tok AS term, CAST(count(*) AS DOUBLE) AS f
       |  FROM tok WHERE tok IN $termList GROUP BY doc_id, tok
       |), df AS (
       |  SELECT term, CAST(count(*) AS DOUBLE) AS d FROM tf GROUP BY term
       |), kw AS (
       |  -- per-term contribution rounded then summed as DECIMAL: exact,
       |  -- order-independent, so both engines rank identically
       |  SELECT tf.doc_id,
       |    sum(CAST(round(
       |      ln((st.nd - df.d + 0.5) / (df.d + 0.5) + 1)
       |        * (tf.f * 2.2)
       |        / (tf.f + 1.2 * (0.25 + 0.75 * dl.n / st.avgdl)),
       |      9) AS DECIMAL(20, 12))) AS score
       |  FROM tf JOIN df ON df.term = tf.term
       |          JOIN dl ON dl.doc_id = tf.doc_id
       |          CROSS JOIN st
       |  GROUP BY tf.doc_id
       |), kwtop AS (
       |  -- top-50 via the LIMIT heap (TakeOrderedAndProject) FIRST, so
       |  -- the single-partition rank Window below sees 50 rows, not the
       |  -- corpus — row_number over the full relation would funnel every
       |  -- row through one partition at scale
       |  SELECT doc_id, score FROM kw ORDER BY score DESC, doc_id LIMIT 50
       |), kwr AS (
       |  SELECT doc_id, CAST(row_number() OVER (
       |    ORDER BY score DESC, doc_id) AS BIGINT) AS kr
       |  FROM kwtop
       |), q AS (
       |  SELECT embedding AS qe FROM embeddings WHERE vec_id = 0
       |), ann AS (
       |  SELECT e.vec_id, $annSim AS sim
       |  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> 0
       |), anntop AS (
       |  SELECT vec_id, sim FROM ann ORDER BY sim DESC, vec_id LIMIT 50
       |), annr AS (
       |  SELECT vec_id, CAST(row_number() OVER (
       |    ORDER BY sim DESC, vec_id) AS BIGINT) AS ar
       |  FROM anntop
       |), fused AS (
       |  -- Spark parses a bare 1.0 as DECIMAL; CAST pins both engines
       |  -- to the same IEEE double reciprocals
       |  SELECT coalesce(k.doc_id, a.vec_id) AS id, k.kr, a.ar,
       |    coalesce(CAST(1 AS DOUBLE) / (60 + k.kr), 0)
       |      + coalesce(CAST(1 AS DOUBLE) / (60 + a.ar), 0) AS rrf
       |  FROM kwr k FULL OUTER JOIN annr a ON k.doc_id = a.vec_id
       |)
       |SELECT id, kr AS kw_rank, ar AS ann_rank,
       |  CAST(round(rrf, 6) AS DOUBLE) AS rrf
       |FROM fused ORDER BY rrf DESC, id LIMIT 10""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- l33: LSH recall/precision evaluation -------------------------
    "l33_lsh_eval" -> { (s, dir) =>
      Tables.registerAll(s, dir)
      graft.functions.NGramFunctions.register(s) // minhash_sigs
      s.sql(lshEvalSql(spark = true))
    },

    // ---- l33b: LSH auto-tuner -----------------------------------------
    // Sweep (bands, rows) on the fixed panel, oracle-gate the metrics
    // AND the winner flag (see lshAutoTuneSql — VERDICT r10 task #6).
    "l33b_lsh_autotune" -> { (s, dir) =>
      Tables.registerAll(s, dir)
      graft.functions.NGramFunctions.register(s) // minhash_sigs
      s.sql(lshAutoTuneSql(spark = true))
    },

    // ---- l40: ANN nprobe auto-tuner (see annNprobeTunerSql) -----------
    // Staged: quantizer → assignment → panel → exact-truth distances,
    // each localCheckpoint'd so the 4-config sweep reads them instead of
    // re-deriving from the corpus (38 parquet scans pre-r14).
    "l40_ann_nprobe_tuner" -> { (s, dir) =>
      Tables.registerAll(s, dir)
      graft.functions.VectorFunctions.register(s)
      s.sql(s"WITH ${ivfTrainCtes(spark = true, "embeddings")} " +
          "SELECT * FROM c2")
        .localCheckpoint().createOrReplaceTempView("l40_c2")
      s.sql(s"WITH ${ivfAssign(spark = true, "assigned", "embeddings", "l40_c2")} " +
          "SELECT * FROM assigned")
        .localCheckpoint().createOrReplaceTempView("l40_assigned")
      s.sql(annPanelSql)
        .localCheckpoint().createOrReplaceTempView("l40_qs")
      s.sql(annPanelSimsSql(spark = true))
        .localCheckpoint().createOrReplaceTempView("l40_sims")
      s.sql(annNprobeTunerSql(spark = true, staged = true))
    },

    // ---- l41: per-source data-card funnel (see dataCardSql) -----------
    "l41_data_card" -> { (s, dir) =>
      Tables.registerAll(s, dir)
      graft.functions.NGramFunctions.register(s)
      s.sql(dataCardSql(spark = true))
    },

    // ---- l44: quality-classifier GD training (see QualityLr) ----------
    "l44_quality_classifier" -> { (s, dir) =>
      Tables.registerAll(s, dir)
      val (out, _) = qualityLrTrain(s)
      import s.implicits._
      out.toDF("step", "b", "w1", "w2", "w3", "w4",
          "tp", "fp", "tn", "fn")
        .selectExpr("CAST(step AS INT) AS step",
          "CAST(round(b, 6) AS DOUBLE) AS b",
          "CAST(round(w1, 6) AS DOUBLE) AS w1",
          "CAST(round(w2, 6) AS DOUBLE) AS w2",
          "CAST(round(w3, 6) AS DOUBLE) AS w3",
          "CAST(round(w4, 6) AS DOUBLE) AS w4",
          "tp", "fp", "tn", "fn")
        .orderBy("step")
    },

    // ---- l44b: corpus filter census from the trained classifier -------
    // Train (3 GD steps, the l44 loop) then ONE map-side scoring pass
    // over the corpus; per-source keep/agreement/avg-score census.
    "l44b_quality_filter" -> { (s, dir) =>
      Tables.registerAll(s, dir)
      import QualityLr._
      val (_, w) = qualityLrTrain(s)
      val p = p9(round9(w._1).toString, round9(w._2).toString,
        round9(w._3).toString, round9(w._4).toString, round9(w._5).toString)
      s.sql(
        s"""WITH ${featuresCte(spark = true, carry = Seq("source"),
              hint = Tables.spreadHint(s))}
           |${qualityApplyCensus(p, "f")}""".stripMargin)
    },

    // ---- l45: Gopher-style quality-rule census (see gopherRulesSql) ---
    "l45_gopher_rules" -> { (s, dir) =>
      Tables.registerAll(s, dir)
      s.sql(gopherRulesSql(spark = true))
    },

    // ---- l46: chunk-level dedup with reconstruction (see chunkDedupSql)
    "l46_chunk_dedup" -> { (s, dir) =>
      Tables.registerAll(s, dir)
      s.sql(chunkDedupSql(spark = true))
    },

    // ---- l47: leakage-free train/val/test split (see clusterSplitSql) --
    // Builds on l14's resolved duplicate clusters: the split key is the
    // CLUSTER, not the doc, so near-duplicates can never straddle a
    // split boundary (train/test contamination by duplication). Labels
    // come from the same run-to-convergence propagation as l14/l38.
    "l47_cluster_safe_split" -> { (s, dir) =>
      Tables.registerAll(s, dir)
      graft.functions.NGramFunctions.register(s)
      clusterLabels(s, s.sql(dedupEdgesSparkSql(s)).localCheckpoint())
        .createOrReplaceTempView("l47_lab")
      s.sql(clusterSplitSql(spark = true))
    },

    // ---- l48: hard-negative mining (see hardNegativesSql) --------------
    "l48_hard_negatives" -> { (s, dir) =>
      Tables.registerAll(s, dir)
      graft.functions.VectorFunctions.register(s)
      s.sql(hardNegativesSql(spark = true))
    },

    // ---- l49: epoch-budget allocation (see epochBudgetSql) -------------
    // The per-source histogram (dozens of rows) is materialized ONCE —
    // pre-r14 the inlined CTE waterfall re-scanned + re-tokenized the
    // corpus 63 times (VERDICT r13 #2).
    "l49_epoch_budget" -> { (s, dir) =>
      Tables.registerAll(s, dir)
      s.sql(epochHistSql(spark = true))
        .localCheckpoint().createOrReplaceTempView("l49_hist")
      s.sql(epochBudgetSql(spark = true,
        dFrom = Some("SELECT source, avail FROM l49_hist")))
    },

    // ---- l50: curriculum phase assignment (see curriculumSql) ----------
    // The (doc_id, score) relation is tokenized ONCE behind a
    // localCheckpoint; the histogram/position/replay CTEs all read it.
    "l50_curriculum_phases" -> { (s, dir) =>
      Tables.registerAll(s, dir)
      s.sql(curriculumScoreSql(spark = true))
        .localCheckpoint().createOrReplaceTempView("l50_d")
      s.sql(curriculumSql(spark = true,
        dFrom = Some("SELECT doc_id, score FROM l50_d")))
    },

    // ---- l51: margin-violation triplet mining (see tripletMiningSql) ---
    "l51_triplet_mining" -> { (s, dir) =>
      Tables.registerAll(s, dir)
      graft.functions.VectorFunctions.register(s)
      s.sql(tripletMiningSql(spark = true))
    },

    // ---- l02c: minhash-LSH at the auto-tuned configuration ------------
    // The tuner's decision driving the production corpus pass: collect
    // the panel sweep's winner (corpus-independent), run minhashLshSqlN
    // at that (bands × rows). The oracle recomputes the same winner
    // inline and runs the generic banding — both engines agree on the
    // choice because the sweep is deterministic.
    "l02c_minhash_lsh_tuned" -> { (s, dir) =>
      Tables.registerAll(s, dir)
      graft.functions.NGramFunctions.register(s)
      val (b, r) = lshAutoTuneChoice(s)
      s.sql(minhashLshSqlN(spark = true, nHashes = b * r, bandSize = r,
        cap = LshBucketCap, hint = Tables.spreadHint(s)))
    },

    // ---- l32: token-budget mixture sampling ---------------------------
    "l32_mixture_sampling" -> { (s, dir) =>
      Tables.registerAll(s, dir)
      s.sql(mixSql(spark = true))
    },

    // ---- l31: content-defined chunking --------------------------------
    "l31_cdc_chunking" -> { (s, dir) =>
      Tables.registerAll(s, dir)
      graft.functions.WinnowFunctions.register(s) // cdc_starts
      s.sql(cdcSql(spark = true, spread = Tables.spreadHint(s)))
    },

    // ---- l30: bigram-LM perplexity-proxy scoring ----------------------
    "l30_bigram_lm_score" -> { (s, dir) =>
      Tables.registerAll(s, dir)
      s.sql(lmSql(spark = true, spread = Tables.spreadHint(s)))
    },

    // ---- l28: DSIR importance resampling weights ----------------------
    "l28_dsir_importance" -> { (s, dir) =>
      Tables.registerAll(s, dir)
      s.sql(dsirSql(spark = true, spread = Tables.spreadHint(s)))
    },

    // ---- l29: cross-source MinHash overlap matrix ---------------------
    "l29_source_overlap" -> { (s, dir) =>
      Tables.registerAll(s, dir)
      // the distinct token relation feeds 4 consumers (each re-running
      // hash pass + DISTINCT shuffle inline) — persist it once
      materialize(s.sql(overlapTokSelect(Tables.spreadHint(s))))
        .createOrReplaceTempView("l29_tok")
      s.sql(overlapSql(spark = true, tokRef = Some("l29_tok")))
    },

    // ---- l26: product-quantization ANN (ADC + exact rerank) -----------
    "l26_ann_pq" -> { (s, dir) =>
      Tables.registerAll(s, dir)
      graft.functions.VectorFunctions.register(s)
      s.sql(pqSql(spark = true))
    },

    // ---- l26b: PQ ANN served from the PERSISTED index -----------------
    // l26's production split (the l12b discipline): codebooks train
    // OFFLINE on the deterministic 1-in-4 sample, the corpus encodes once
    // into the pivoted 4-byte code table, both persist; serving is a
    // map-side LUT scan over the code table + 20-row exact rerank. The
    // oracle recomputes the identical semantics from scratch in DuckDB
    // (shared emitter, sampled training) — the hash match proves
    // persisted-index serving ≡ the from-scratch pipeline.
    "l26b_ann_pq_served" -> { (s, dir) =>
      Tables.registerAll(s, dir)
      graft.functions.VectorFunctions.register(s)
      pqIndex(s, dir)
      s.sql(pqServedSparkSql)
    },

    // ---- l34: composed IVF-PQ served from the PERSISTED index ---------
    // The actual 100 TB ANN shape (FAISS IVFPQ): queries route through
    // the persisted IVF cells (l12b), then ADC over the per-vector PQ
    // codes (l26b), both read from ONE composed fact table (vec_id,
    // cell, c0..c3). Serving touches 2/K of the corpus with map-side
    // LUT lookups — no training subtree, no Window, no corpus-keyed
    // shuffle — then exact-reranks the top 20.
    "l34_ann_ivfpq_served" -> { (s, dir) =>
      Tables.registerAll(s, dir)
      graft.functions.VectorFunctions.register(s)
      ivfPqIndex(s, dir)
      s.sql(ivfPqServedSparkSql)
    },

    // ---- l43: RAG context assembly off the served index ---------------
    // The l34 serving path + document hydration + greedy token-budget
    // packing (see ragContextTail).
    "l43_rag_context" -> { (s, dir) =>
      Tables.registerAll(s, dir)
      graft.functions.VectorFunctions.register(s)
      ivfPqIndex(s, dir)
      s.sql(ivfPqServedSparkSql("ivfpq_index", "embeddings",
        finalSelect = ragContextTail(spark = true)))
    },

    // ---- l35: index lifecycle — ingest re-encodes, serving sees it ----
    // VERDICT r11 task #7: the served indexes were built once; production
    // re-ingests. Here the IVF-PQ index IS a materialized view of the
    // live table: the d11 subscription machinery runs the ENCODER (one
    // map-side expression — argmax-cosine cell + per-subspace argmin PQ
    // codes against the frozen v2 quantizer stores, broadcast as scalar
    // subqueries) over every inserted block and appends the codes to the
    // index table. Ingest a delta (copies of vec_id ≡ 3 mod 7, re-id'd
    // +100000) and the serving query — same l34 shape, reading the
    // MV-maintained index and reranking against the live table — must
    // return the new vectors (vec 73's copy lands in the top-5 at
    // sf0.01). Quantizers are FROZEN across ingests (FAISS add()
    // semantics: encode, never retrain); the oracle recomputes with
    // training pinned to the original corpus and encode over the union.
    // 100 TB: per-block encode is embarrassingly parallel (no shuffle in
    // the MV SELECT), index maintenance cost scales with the delta, not
    // the corpus.
    "l35_ann_index_ingest" -> { (s, dir) =>
      Tables.registerAll(s, dir)
      graft.functions.VectorFunctions.register(s)
      ivfCentroids(s, dir).createOrReplaceTempView("ivf_centroids")
      pqIndex(s, dir)
      val g = new graft.exec.GraftSession(s)
      g.sql("DROP TABLE IF EXISTS graft_emb_index; " +
        "DROP TABLE IF EXISTS graft_emb_live; " +
        "DROP TABLE IF EXISTS graft_ivf_centroids; " +
        "DROP TABLE IF EXISTS graft_pq_codebook")
      // The frozen quantizer stores become WAREHOUSE tables, not temp
      // views: a persisted MV must depend only on persisted objects, or
      // it cannot restore after a restart (MvRestoreSpec / VERDICT r13
      // #1 — the reference's sled catalog has the same closure property:
      // everything a stored object references is itself stored,
      // crates/meta/src/store/sys.rs:624-642).
      g.sql("CREATE TABLE graft_ivf_centroids AS SELECT * FROM ivf_centroids")
      g.sql("CREATE TABLE graft_pq_codebook AS SELECT * FROM pq_codebook")
      g.sql("CREATE TABLE graft_emb_live(vec_id Int64, embedding Array(Float32))")
      g.sql("CREATE MATERIALIZED VIEW graft_emb_index AS " +
        indexEncodeSparkSql("graft_emb_live",
          centroids = "graft_ivf_centroids", codebook = "graft_pq_codebook"))
      g.sql("INSERT INTO graft_emb_live SELECT vec_id, embedding FROM embeddings")
      g.sql("INSERT INTO graft_emb_live SELECT vec_id + 100000, embedding " +
        "FROM embeddings WHERE vec_id % 7 = 3")
      s.sql(ivfPqServedSparkSql(index = "graft_emb_index",
        corpus = "graft_emb_live"))
    },

    // ---- l36: metadata-FILTERED ANN over the composed index -----------
    // The vector-DB "hybrid filter" shape (FAISS IDSelector / filtered
    // HNSW): top-k restricted to vectors whose metadata matches a
    // predicate. The production move for selective filters is storing
    // the attribute IN the index (a composite index) so serving stays
    // ONE map-side scan with the predicate pushed to the parquet reader
    // — the labeled store materializes (vec_id, cell, label, c0..c3)
    // once at build (the vec_id join is build-time-only, like l34's
    // compose step). Post-filtering a top-k would instead under-fill k
    // whenever the filter is selective; pre-filter via semi-join would
    // shuffle the corpus. label = 4 keeps ~10% of vectors.
    "l36_ann_filtered" -> { (s, dir) =>
      Tables.registerAll(s, dir)
      graft.functions.VectorFunctions.register(s)
      ivfPqIndex(s, dir)
      pqIndexStore(s, dir, "ivfpql",
        """SELECT k.vec_id, k.cell, e.label, k.c0, k.c1, k.c2, k.c3
          |FROM ivfpq_index k JOIN embeddings e ON e.vec_id = k.vec_id""".stripMargin)
        .createOrReplaceTempView("ivfpq_labeled")
      s.sql(ivfPqServedSparkSql(index = "ivfpq_labeled",
        corpus = "embeddings", extraPred = " AND k.label = 4"))
    },

    // ---- l37: hybrid retrieval — BM25 ⊕ ANN via RRF -------------------
    "l37_hybrid_rrf" -> { (s, dir) =>
      Tables.registerAll(s, dir)
      graft.functions.VectorFunctions.register(s)
      s.sql(hybridRrfSql(spark = true))
    },

    // ---- l27: training-sequence packing (concatenate-and-chunk) -------
    "l27_sequence_packing" -> { (s, dir) =>
      Tables.registerAll(s, dir)
      s.sql(packSparkSql)
    },

    // ---- l01: exact dedup by content hash -----------------------------
    // 100 TB: groupBy(md5(text)) is a single hash shuffle on a uniformly
    // distributed 128-bit key — no skew by construction; the kept-doc
    // choice (min doc_id) is a deterministic tie-break.
    "l01_exact_dedup" -> { (s, dir) =>
      Tables.registerAll(s, dir)
      s.sql(
        """WITH keyed AS (
          |  SELECT doc_id, md5(lower(text)) AS k FROM documents
          |), groups AS (
          |  SELECT k, count(*) AS sz, min(doc_id) AS keeper FROM keyed GROUP BY k
          |)
          |SELECT count(*) AS n_unique,
          |  CAST(sum(sz) AS BIGINT) AS n_docs,
          |  CAST(sum(sz - 1) AS BIGINT) AS n_removed,
          |  CAST(sum(CASE WHEN sz > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_groups
          |FROM groups""".stripMargin)
    },

    // ---- l02: minhash-LSH near-dup candidate generation ---------------
    // Shingle (token 3-grams) → 4 minhashes → 2 bands of 2 → bucket-local
    // pair expansion. 100 TB: one shingle pipeline, one shuffle to
    // (band, sig) buckets, then pairs explode WITHIN each bucket — never
    // all-pairs, and no self-join that would recompute the minhash
    // pipeline per reference (a naive bands⋈bands CTE self-join re-ran the
    // whole pipeline 6×). Skewed mega-buckets (boilerplate corpora) are
    // CAPPED before the explode: a bucket larger than LshBucketCap emits a
    // single sentinel row instead of its O(n²) pairs, and the dropped
    // count ships in the output (`n_dropped_buckets`) so the cap is
    // observable, not silent — same single pass, no recompute.
    "l02_minhash_lsh" -> { (s, dir) =>
      Tables.registerAll(s, dir)
      graft.functions.NGramFunctions.register(s)
      s.sql(minhashLshSql(LshBucketCap, hint = Tables.spreadHint(s)))
    },

    // ---- l02b: minhash-LSH at production signature width --------------
    // Same family as l02 with the production lever exposed: 8 min-hashes
    // banded 4×2 (vs l02's toy 2×2). Recall rises with more bands while
    // each band's sig stays selective; the cap/drop-count machinery is
    // shared. 100 TB: identical single-pass shape — the signature width
    // only changes map-side work and band-key cardinality.
    "l02b_minhash_lsh_wide" -> { (s, dir) =>
      Tables.registerAll(s, dir)
      graft.functions.NGramFunctions.register(s)
      s.sql(minhashLshSqlN(spark = true, nHashes = 8, bandSize = 2,
        cap = LshBucketCap, hint = Tables.spreadHint(s)))
    },

    // ---- l03: brute-force top-k cosine (ANN correctness baseline) -----
    // 100 TB: one scan of embeddings with the query vector broadcast; the
    // top-k is a TakeOrderedAndProject (per-partition heap + driver merge),
    // no shuffle of the full similarity column.
    "l03_ann_bruteforce" -> { (s, dir) =>
      Tables.registerAll(s, dir)
      graft.functions.VectorFunctions.register(s)
      s.sql(
        s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
           |sims AS (
           |  SELECT e.vec_id,
           |    ${dotSpark("e.embedding", "q.qe")} AS dot,
           |    sqrt(${dotSpark("e.embedding", "e.embedding")}) AS ne,
           |    sqrt(${dotSpark("q.qe", "q.qe")}) AS nq
           |  FROM embeddings e CROSS JOIN q
           |  WHERE e.vec_id <> 0
           |)
           |SELECT vec_id, round(dot / (ne * nq), 6) AS sim
           |FROM sims ORDER BY sim DESC, vec_id LIMIT 10""".stripMargin)
    },

    // ---- l04: LSH-bucketed ANN with multi-probe -----------------------
    // 100 TB: bucket the table once by the 4-bit sign-LSH key (in practice
    // 16-24 bits → millions of buckets, stored bucketed/partitioned), then
    // probe the query's own cell PLUS every 1-bit-flip neighbor — the
    // standard multi-probe recall lever: 1+bits probed cells instead of a
    // full sweep, still a partition-pruned equi-join, never all-pairs.
    "l04_ann_lsh_bucketed" -> { (s, dir) =>
      Tables.registerAll(s, dir)
      graft.functions.VectorFunctions.register(s)
      val flips = (1 to 4).map { i =>
        s"concat(substr(qb, 1, ${i - 1}), " +
          s"CASE substr(qb, $i, 1) WHEN '1' THEN '0' ELSE '1' END, " +
          s"substr(qb, ${i + 1}))"
      }.mkString(", ")
      s.sql(
        s"""WITH b AS (
           |  SELECT vec_id, embedding, ${bucketSpark("embedding")} AS bucket
           |  FROM embeddings
           |), q AS (SELECT embedding AS qe, bucket AS qb FROM b WHERE vec_id = 0),
           |probes AS (
           |  SELECT explode(array(qb, $flips)) AS pb FROM q
           |),
           |sims AS (
           |  SELECT b.vec_id,
           |    ${dotSpark("b.embedding", "q.qe")} AS dot,
           |    sqrt(${dotSpark("b.embedding", "b.embedding")}) AS ne,
           |    sqrt(${dotSpark("q.qe", "q.qe")}) AS nq
           |  FROM b JOIN probes p ON b.bucket = p.pb CROSS JOIN q
           |  WHERE b.vec_id <> 0
           |)
           |SELECT vec_id, round(dot / (ne * nq), 6) AS sim
           |FROM sims ORDER BY sim DESC, vec_id LIMIT 5""".stripMargin)
    },

    // ---- l05: token/char stats per language (quality scoring inputs) --
    // Integer sums only → exact cross-engine equality. 100 TB: one
    // map-side-combined aggregation over a low-cardinality key.
    "l05_text_stats" -> { (s, dir) =>
      Tables.registerAll(s, dir)
      s.sql(
        """SELECT lang,
          |  count(*) AS n_docs,
          |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
          |  CAST(sum(size(split(text, ' '))) AS BIGINT) AS sum_tokens,
          |  CAST(max(size(split(text, ' '))) AS BIGINT) AS max_tokens,
          |  CAST(min(size(split(text, ' '))) AS BIGINT) AS min_tokens
          |FROM documents
          |GROUP BY lang ORDER BY lang""".stripMargin)
    },

    // ---- l06: language-ID heuristic vs labeled lang -------------------
    // A stopword-presence heuristic (the real thing is an n-gram profile;
    // same plan shape: map-side classify + small aggregate).
    "l06_langid_heuristic" -> { (s, dir) =>
      Tables.registerAll(s, dir)
      s.sql(
        """SELECT lang,
          |  CASE WHEN instr(concat(' ', text, ' '), ' the ') > 0
          |       THEN 'en-like' ELSE 'other' END AS predicted,
          |  count(*) AS n
          |FROM documents
          |GROUP BY 1, 2 ORDER BY lang, predicted""".stripMargin)
    },

    // ---- l13: trigram-profile language ID -----------------------------
    // The real n-gram classifier behind l06's stopword heuristic: train a
    // top-20 character-trigram profile per language from the labeled
    // corpus (document-frequency based), score every doc by profile
    // overlap, predict the best-scoring language, and emit the confusion
    // matrix vs the labels. 100 TB: profiles are tiny (20 x n_langs) and
    // broadcast; the per-doc work is one distinct-trigram explode and one
    // broadcast join — no all-pairs, no big shuffle beyond the doc-id
    // aggregation. All scores are integers and every ranking has a total
    // deterministic order (count DESC, trigram/lang ASC), so the oracle
    // matches exactly.
    "l13_langid_trigram" -> { (s, dir) =>
      Tables.registerAll(s, dir)
      graft.functions.NGramFunctions.register(s)
      // Trigram extraction runs through the codegen'd char_ngrams (the HOF
      // transform/substr lambda it replaces is interpreted per element and
      // was the dominant cost). Training explodes the distinct-trigram
      // array into the (lang,g) count; scoring does NOT re-join exploded
      // rows (r3 shuffled ~30M of them into a (doc,lang) aggregate): each
      // language's top-20 profile collapses to ONE array row, so scoring
      // is a broadcast nested-loop over n_langs rows with
      // size(array_intersect(gs, pgs)) counting overlap map-side.
      // Tables.spreadHint before the gram map work: the synthetic corpus
      // is one parquet row group, which Spark cannot split — without the
      // exchange the whole gram build fuses into a single-task scan
      // stage. The hint is layout-CONDITIONAL (row-group probe at
      // registerAll): a well-laid-out 100 TB corpus gets no exchange,
      // because a round-robin hint is a full-corpus shuffle, never a
      // no-op (VERDICT r6 #1). Same contract at every spreadHint site.
      // dg is referenced twice (profile training AND scoring); Spark
      // inlines CTEs, so without materialization the gram extraction — the
      // dominant cost — runs twice. Persist it once and let both branches
      // share the cached columnar batches (at cluster scale: a checkpoint
      // or temp table).
      val dg = materialize(s.sql(
        s"""SELECT doc_id, lang, array_distinct(char_ngrams(text, 3)) AS gs
          |FROM (SELECT ${Tables.spreadHint(s)} doc_id, lang, text FROM documents)
          |WHERE length(text) >= 3""".stripMargin))
      dg.createOrReplaceTempView("l13_dg")
      s.sql(
        """WITH counts AS (
          |  SELECT lang AS plang, g, count(*) AS n
          |  FROM l13_dg LATERAL VIEW explode(gs) t AS g GROUP BY lang, g
          |), profile AS (
          |  SELECT plang, collect_list(g) AS pgs FROM (
          |    SELECT plang, g,
          |      row_number() OVER (PARTITION BY plang ORDER BY n DESC, g) AS rn
          |    FROM counts) WHERE rn <= 20 GROUP BY plang
          |), scores AS (
          |  -- the BROADCAST hint is a correctness-of-scale guarantee, not
          |  -- an optimization: profile is bounded by n_langs rows (a
          |  -- data-independent constant), but Spark's size ESTIMATE for it
          |  -- derives from the corpus-sized input, so on a 30x corpus the
          |  -- planner pushed it past the broadcast threshold and degraded
          |  -- this join to a CartesianProduct (round-8 scale probe). The
          |  -- hint pins the only sane physical shape at any corpus size.
          |  SELECT /*+ BROADCAST(p) */
          |    d.doc_id, p.plang, size(array_intersect(d.gs, p.pgs)) AS score
          |  FROM l13_dg d CROSS JOIN profile p
          |), best AS (
          |  SELECT doc_id, plang AS predicted FROM (
          |    SELECT doc_id, plang,
          |      row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, plang) AS rn
          |    FROM scores WHERE score > 0) WHERE rn = 1
          |)
          |SELECT d.lang, coalesce(b.predicted, 'unknown') AS predicted,
          |  count(*) AS n
          |FROM documents d LEFT JOIN best b ON d.doc_id = b.doc_id
          |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)
    },

    // ---- l07: simhash document fingerprint ----------------------------
    // 8-bit simhash from per-token md5 bytes: per-bit signed vote, sign →
    // bit. 100 TB: explode+groupBy(doc_id) is map-heavy but linear; the
    // fingerprint then joins near-dups by hamming-ball probing (here:
    // fingerprint histogram as the verifiable output).
    "l07_simhash" -> { (s, dir) =>
      Tables.registerAll(s, dir)
      val byte = s"(${nibSpark("h", 1)} * 16 + ${nibSpark("h", 2)})"
      val votes = (0 until 8).map { b =>
        s"sum(2 * ((byte DIV ${1 << b}) % 2) - 1) AS s$b"
      }.mkString(", ")
      val hash = (0 until 8).map { b =>
        s"(CASE WHEN s$b > 0 THEN ${1 << b} ELSE 0 END)"
      }.mkString(" + ")
      s.sql(
        s"""WITH tok AS (
           |  SELECT doc_id, explode(split(text, ' ')) AS w
           |  FROM (SELECT ${Tables.spreadHint(s)} doc_id, text FROM documents)
           |), tb AS (
           |  SELECT doc_id, $byte AS byte FROM (SELECT doc_id, md5(w) AS h FROM tok)
           |), v AS (
           |  SELECT doc_id, $votes FROM tb GROUP BY doc_id
           |), f AS (
           |  SELECT doc_id, CAST($hash AS INT) AS simhash FROM v
           |)
           |SELECT simhash, count(*) AS n FROM f GROUP BY simhash
           |ORDER BY simhash""".stripMargin)
    },

    // ---- l08: n-gram Jaccard similarity on blocked pairs --------------
    // Token-bigram Jaccard over a deterministic candidate block (adjacent
    // doc ids within a language). 100 TB: the blocking key replaces
    // all-pairs; set ops are per-pair map work. The gram pipeline feeds
    // both self-join sides UNCACHED: the r6 median-of-5 A/B showed the
    // persist costs as much as it saves here (2.48s uncached vs 2.67s
    // cached at sf0.1) — the sort-merge self-join shuffles both sides
    // identically, so Spark's ReusedExchange computes the gram pipeline
    // once anyway, and the cache write/read of the big gram arrays is pure
    // overhead on top.
    "l08_ngram_jaccard" -> { (s, dir) =>
      Tables.registerAll(s, dir)
      graft.functions.NGramFunctions.register(s)
      // bigram extraction via the codegen'd word_ngrams (the transform/
      // slice/array_join lambda it replaces ran interpreted per element)
      val g = s.sql(
        """SELECT doc_id, lang, array_distinct(word_ngrams(text, 2)) AS grams
          |FROM documents WHERE size(split(text, ' ')) >= 2""".stripMargin)
      g.createOrReplaceTempView("l08_grams")
      s.sql(
        """WITH pairs AS (
          |  SELECT a.doc_id AS d1, b.doc_id AS d2,
          |    size(array_intersect(a.grams, b.grams)) AS inter,
          |    size(a.grams) + size(b.grams)
          |      - size(array_intersect(a.grams, b.grams)) AS uni
          |  FROM l08_grams a JOIN l08_grams b
          |    ON a.lang = b.lang AND b.doc_id = a.doc_id + 1
          |)
          |SELECT d1, d2, round(CAST(inter AS DOUBLE) / uni, 6) AS jaccard
          |FROM pairs
          |ORDER BY jaccard DESC, d1 LIMIT 20""".stripMargin)
    },

    // ---- l09: embedding-cosine near-duplicate pairs -------------------
    // The dedup-by-embedding path: LSH bucket first (never all-pairs),
    // exact cosine within the bucket, threshold filter. Norms are
    // precomputed per vector (per-pair work is one dot product, not
    // three). 100 TB: bucket join + per-bucket pair work, same shape as
    // l02 but in vector space; more LSH bits shrink buckets further.
    "l09_embedding_neardup" -> { (s, dir) =>
      Tables.registerAll(s, dir)
      graft.functions.VectorFunctions.register(s)
      s.sql(
        s"""WITH b AS (
           |  SELECT vec_id, embedding, ${bucketSpark("embedding")} AS bucket,
           |    sqrt(${dotSpark("embedding", "embedding")}) AS nrm
           |  FROM embeddings
           |), pairs AS (
           |  SELECT a.vec_id AS v1, c.vec_id AS v2,
           |    ${dotSpark("a.embedding", "c.embedding")} / (a.nrm * c.nrm) AS sim
           |  FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id < c.vec_id
           |)
           |SELECT v1, v2, round(sim, 6) AS sim
           |FROM pairs WHERE sim > 0.4
           |ORDER BY sim DESC, v1, v2""".stripMargin)
    },

    // ---- l10: regex tokenization + quality scoring --------------------
    // BPE-ish regex token extraction (alnum runs) + stopword-ratio and
    // chars-per-token quality inputs, exact integer outputs per source.
    "l10_regex_tokens" -> { (s, dir) =>
      Tables.registerAll(s, dir)
      s.sql(
        """WITH tk AS (
          |  SELECT source,
          |    size(regexp_extract_all(text, '[a-z0-9]+', 0)) AS n_tok,
          |    size(filter(regexp_extract_all(text, '[a-z0-9]+', 0),
          |      t -> array_contains(array('the', 'a', 'of'), t))) AS n_stop,
          |    n_chars
          |  FROM documents
          |)
          |SELECT source,
          |  count(*) AS n_docs,
          |  CAST(sum(n_tok) AS BIGINT) AS sum_tokens,
          |  CAST(sum(n_stop) AS BIGINT) AS sum_stopwords,
          |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
          |FROM tk GROUP BY source ORDER BY source""".stripMargin)
    },

    // ---- l11: simhash near-dup pairs via hamming-ball probe join ------
    // The fingerprint-join l07 leaves as future work: docs whose 32-bit
    // simhash differs by <= 1 bit. Each doc emits 33 probe keys (its
    // fingerprint + all single-bit flips); an equi-join probe->fingerprint
    // finds every hamming<=1 pair WITHOUT an all-pairs comparison — and,
    // unlike l11b's 4x16-band pigeonhole (candidates up to hamming<=3,
    // exact-confirm after), the hamming ball is EXACT by construction.
    // 100 TB: probe fan-out is constant (1 + bits = 33); the 2^32 key
    // space keeps expected bucket size ~n/2^32 — sub-1 even at 10^9 docs
    // (VERDICT r12 #3: the old 8-bit toy key space of 256 made buckets
    // grow linearly with the corpus; re-keyed to production width).
    "l11_simhash_hamming_join" -> { (s, dir) =>
      Tables.registerAll(s, dir)
      val word = (2 to 8).foldLeft(
        s"CAST(${nibSpark("h", 1)} AS BIGINT)") {
        (acc, p) => s"($acc * 16 + ${nibSpark("h", p)})"
      }
      val votes = (0 until 32).map { b =>
        s"sum(2 * ((word DIV ${1L << b}) % 2) - 1) AS s$b"
      }.mkString(", ")
      val hash = (0 until 32).map { b =>
        s"(CASE WHEN s$b > 0 THEN ${1L << b} ELSE 0 END)"
      }.mkString(" + ")
      val flips = (0 until 32).map(b => s"simhash ^ ${1L << b}").mkString(", ")
      // The fingerprint table feeds BOTH sides of the probe join UNCACHED:
      // the r5 materialize() was a measured pessimization (r6 median-of-5
      // A/B at sf0.1: 2.36s uncached vs 4.53s cached) — the persist's
      // extra job + cache traffic costs more than the second fingerprint
      // evaluation, and the probe side's explode shares the build's
      // aggregation exchange via ReusedExchange regardless.
      val f = s.sql(
        s"""WITH tok AS (
           |  SELECT doc_id, explode(split(text, ' ')) AS w
           |  FROM (SELECT ${Tables.spreadHint(s)} doc_id, text FROM documents)
           |), tb AS (
           |  SELECT doc_id, CAST($word AS BIGINT) AS word
           |  FROM (SELECT doc_id, md5(w) AS h FROM tok)
           |), v AS (
           |  SELECT doc_id, $votes FROM tb GROUP BY doc_id
           |)
           |SELECT doc_id, CAST($hash AS BIGINT) AS simhash FROM v""".stripMargin)
      f.createOrReplaceTempView("l11_f")
      s.sql(
        s"""WITH probes AS (
           |  SELECT doc_id, simhash, explode(array(simhash, $flips)) AS probe
           |  FROM l11_f
           |), pairs AS (
           |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2,
           |    bit_count(a.simhash ^ b.simhash) AS hd
           |  FROM probes a JOIN l11_f b ON a.probe = b.simhash AND a.doc_id < b.doc_id
           |)
           |SELECT hd, count(*) AS n_pairs FROM pairs
           |GROUP BY hd ORDER BY hd""".stripMargin)
    },

    // ---- l11b: 64-bit simhash, 4×16-bit banded join (production width)
    // The shape l11's scaladoc promised as future work, now real: see
    // simhash64Sql. The band join replaces l11's 65-way single-bit-flip
    // probe fan-out AND lifts the join-key cardinality from 256 to
    // 4×65536 — at 100 TB the band key is what keeps bucket sizes sane.
    "l11b_simhash64_banded" -> { (s, dir) =>
      Tables.registerAll(s, dir)
      graft.functions.SimhashFunctions.register(s)
      s.sql(simhash64ExprSql(Tables.spreadHint(s)))
    },

    // ---- l12: IVF ANN (TRAINED coarse quantizer + probed exact search)
    // The scale path beyond sign-LSH (l04): train K=8 coarse centroids
    // with a deterministic bounded spherical k-means (see ivfSql), assign
    // every vector to its nearest cell, probe the query's nprobe=2
    // nearest cells and run exact cosine inside them. 100 TB: training
    // is an offline broadcast-K loop; the serving assignment is a
    // broadcast join against K centroids (map-side), the probe reads
    // 2/K of the corpus, and recall tunes with nprobe.
    "l12_ann_ivf" -> { (s, dir) =>
      Tables.registerAll(s, dir)
      graft.functions.VectorFunctions.register(s)
      s.sql(ivfSql(spark = true))
    },

    // ---- l12b: IVF ANN served from PERSISTED centroids ----------------
    // l12's production split (VERDICT r7 weak #1): the quantizer is
    // trained OFFLINE on a deterministic 1-in-4 sample and persisted as a
    // tiny centroid table; the serving query reads stored centroids and
    // scans the corpus exactly once, assignment computed map-side (see
    // ivfServeSparkSql). 100 TB: index build is a once-per-corpus job at
    // a fixed sample fraction; every query thereafter is one pruned scan
    // + broadcasts, no training subtree, no vec_id shuffle.
    "l12b_ann_ivf_served" -> { (s, dir) =>
      Tables.registerAll(s, dir)
      graft.functions.VectorFunctions.register(s)
      ivfCentroids(s, dir).createOrReplaceTempView("ivf_centroids")
      s.sql(ivfServeSparkSql)
    },

    // ---- l24: SemDeDup — cluster-scoped semantic dedup ----------------
    // SemDeDup (Abbas et al. 2023): k-means the embedding space, then
    // search for semantic duplicates ONLY within each cluster — the
    // cluster scoping is what kills the O(n²) global pair space. Reuses
    // the l12 trained quantizer (shared Lloyd's template, so Spark and
    // DuckDB cluster identically); within a cell, a vector is dropped
    // when a LOWER-id vector with cosine ≥ 0.4 exists (keep-lowest-id is
    // our deterministic representative rule; 6-dp rounding collapses
    // cross-engine ulp noise at the threshold). 100 TB: pair work is
    // Σ|cell|² with K ∝ corpus size keeping cells bounded — the paper's
    // own cost model; the pair join is a plain equi-join on cell (K
    // distinct keys — sized to the fleet in production, AQE-splittable).
    "l24_semdedup" -> { (s, dir) =>
      Tables.registerAll(s, dir)
      graft.functions.VectorFunctions.register(s)
      s.sql(semDedupSql(spark = true))
    },

    // ---- l24b: SemDeDup served from the PERSISTED quantizer -----------
    // l24's production split (the l12b/l26b discipline): the pipeline
    // rerun case — re-dedup after ingest — reuses the v2 centroid store
    // instead of retraining Lloyd's inline. Assignment is map-side in
    // the same scan that computes the norms; the only corpus exchange is
    // the cell-keyed pair join SemDeDup inherently needs. The oracle
    // recomputes sampled training + assignment + census from scratch.
    "l24b_semdedup_served" -> { (s, dir) =>
      Tables.registerAll(s, dir)
      graft.functions.VectorFunctions.register(s)
      ivfCentroids(s, dir).createOrReplaceTempView("ivf_centroids")
      s.sql(semDedupServedSparkSql())
    },

    // ---- l25: exact substring-span dedup ------------------------------
    // Lee et al. 2021 exact dedup as the distributed fixed-window form:
    // hashed 40-char windows at stride 10, cross-doc matches merged into
    // contiguous duplicated spans along the (o2 − o1) diagonal, pairs
    // reported at ≥ 80 duplicated chars, boilerplate windows capped with
    // the (-1, -1) sentinel (see substringSpanSql for the 100 TB shape).
    "l25_substring_span_dedup" -> { (s, dir) =>
      Tables.registerAll(s, dir)
      // NOT persisted: the fixed-window md5 pass is cheap enough that the
      // cache write+read+count loses — measured r20 A/B (OFF 1.41 s vs
      // ON 1.75 s). l25b's costlier winnow pass lost with a persist too
      // (cold-JVM record 2.96→3.44 s). The l11-vs-l13 materialize()
      // lesson again.
      s.sql(substringSpanSql(spark = true, hint = Tables.spreadHint(s)))
    },

    // ---- l25b: winnowing-fed substring-span dedup ----------------------
    // The exact-at-any-displacement production form of l25 (whose fixed
    // stride only sees displacement ≡ 0 mod 10): positional MOSS
    // fingerprints (the l16 WinnowOps loop, extended with the selected
    // positions) feed the same diagonal merge. Spec-pinned to catch a
    // shared span at displacement 5 that l25 provably misses.
    "l25b_winnow_span_dedup" -> { (s, dir) =>
      Tables.registerAll(s, dir)
      graft.functions.WinnowFunctions.register(s)
      s.sql(winnowSpanSql(spark = true, hint = Tables.spreadHint(s)))
    },

    // ---- l14: duplicate-cluster resolution ---------------------------
    // The step after candidate generation: union exact-dup edges with
    // near-dup edges (adjacent-id bigram Jaccard, l08's blocking)
    // and resolve clusters by min-label propagation TO CONVERGENCE
    // (resolveClusters below — VERDICT r7 #3 replaced the fixed 4-round
    // bound that silently under-merged chains of diameter > 4). The
    // oracle states exact connected components via a recursive CTE, so
    // both engines are exact for any chain length.
    "l14_dedup_clusters" -> { (s, dir) =>
      Tables.registerAll(s, dir)
      graft.functions.NGramFunctions.register(s)
      // Edges and each propagation round are CHECKPOINTED (localCheckpoint
      // here, reliable checkpoint at cluster scale): each round references
      // its predecessor twice, so leaving the lineage in place re-inlines
      // the whole pipeline 2^rounds times at analysis time — the iterative
      // -algorithm trap (measured 14 s; checkpointed ~1 s). This is the
      // standard Spark shape for label propagation / connected components.
      resolveClusters(s, s.sql(dedupEdgesSparkSql(s)).localCheckpoint())
    },

    // ---- l38: canonical selection from dup clusters -------------------
    // The step AFTER cluster resolution — the curation endgame: each
    // multi-doc duplicate cluster keeps exactly one survivor (the
    // longest member, doc_id tie-break — the common "keep the most
    // complete copy" heuristic) and drops the rest. Labels come from the
    // same run-to-convergence propagation as l14; the survivor pick is a
    // rank-1 window PARTITIONED by cluster label (distributed — never a
    // global sort), and the oracle states the identical argmax over the
    // recursive-CTE component labels. 100 TB: labels are edge-node-sized
    // (dup pairs only, far smaller than the corpus), the documents join
    // is one shuffle on doc_id, the window one shuffle on lbl.
    "l38_canonical_pick" -> { (s, dir) =>
      Tables.registerAll(s, dir)
      graft.functions.NGramFunctions.register(s)
      clusterLabels(s, s.sql(dedupEdgesSparkSql(s)).localCheckpoint())
        .createOrReplaceTempView("l38_lab")
      s.sql(
        """WITH mem AS (
          |  SELECT l.lbl, d.doc_id, length(d.text) AS len
          |  FROM l38_lab l JOIN documents d ON d.doc_id = l.node
          |), ranked AS (
          |  SELECT lbl, doc_id, len,
          |    row_number() OVER (PARTITION BY lbl
          |                       ORDER BY len DESC, doc_id) AS rn,
          |    count(*) OVER (PARTITION BY lbl) AS members
          |  FROM mem
          |)
          |SELECT CAST(lbl AS BIGINT) AS cluster,
          |  CAST(doc_id AS BIGINT) AS kept_doc, CAST(len AS BIGINT) AS kept_len,
          |  CAST(members AS BIGINT) AS members,
          |  CAST(members - 1 AS BIGINT) AS dropped
          |FROM ranked WHERE rn = 1 AND members > 1
          |ORDER BY cluster""".stripMargin)
    },

    // ---- l39: BPE merge learning (tokenizer training) -----------------
    // The core loop of byte-pair-encoding tokenizer training (Sennrich et
    // al. 2016): count adjacent symbol pairs across the corpus, merge the
    // most frequent pair everywhere, repeat. Words render as '|'-framed
    // symbol strings ('this' → '|t|h|i|s|'); the frame makes the merge a
    // plain string replace that can NEVER match across symbol boundaries
    // ('|h|e|' does not occur inside '|th|e|' — an undelimited 'h e'
    // would). The training state is the WORD-FREQUENCY table (the classic
    // Sennrich formulation): the corpus contributes ONE group-by
    // histogram, then each round is a vocab-sized pair explode with
    // freq-WEIGHTED counts (identical values to occurrence counting) +
    // a top-1 heap; the winning pair comes back to the driver as a
    // 2-field literal (the resolveClusters convergence-scalar discipline)
    // and the re-encoded vocab is checkpointed so round N+1's lineage
    // doesn't re-inline rounds 0..N. 100 TB: one corpus scan up front,
    // then every round's cost scales with the VOCABULARY, not the corpus
    // (at 100× self-replication the vocab is unchanged — only freqs
    // grow). The oracle unrolls the same 3 rounds as nested CTEs with
    // LIMIT-1 scalars over the same freq table.
    "l39_bpe_merges" -> { (s, dir) =>
      Tables.registerAll(s, dir)
      import s.implicits._
      bpeLearnMerges(s).toDF("step", "pair", "cnt")
        .selectExpr("CAST(step AS INT) AS step", "pair",
          "CAST(cnt AS BIGINT) AS cnt")
        .orderBy("step")
    },

    // ---- l39b: BATCHED BPE merge learning (VERDICT r12 #5) ------------
    // The O(vocab/batch)-driver-loop production shape of l39: each round
    // learns a whole batch of pairwise-symbol-disjoint merges (first-fit
    // greedy in rank order over the top-96 pool) and applies them in ONE
    // map pass. 6 rounds learn 64+ merges where l39's per-merge loop
    // would take 64+ round-trips — the demonstration that BPE vocabulary
    // size scales the batch size, not the driver-job count. See
    // bpeLearnMergesBatched for the full shape and the commutativity
    // argument that makes the batch rewrite order-independent.
    "l39b_bpe_merges_batched" -> { (s, dir) =>
      Tables.registerAll(s, dir)
      import s.implicits._
      bpeLearnMergesBatched(s).toDF("round", "rk", "pair", "cnt")
        .selectExpr("CAST(round AS INT) AS round", "CAST(rk AS INT) AS rk",
          "pair", "CAST(cnt AS BIGINT) AS cnt")
        .orderBy("round", "rk")
    },

    // ---- l42: BPE encode — apply the learned merges -------------------
    // The other half of the tokenizer story: l39 TRAINS the merge table,
    // l42 ENCODES the corpus with it and reports the per-source token
    // economics (words, raw symbols = chars, post-merge tokens, symbols
    // saved) — what you check before committing a tokenizer to a
    // training run. The 3 learned merges come back from the same driver
    // loop (literals in one map-side expression chain); encoding runs
    // over the per-(source, word) FREQUENCY table — one corpus histogram
    // scan, then the replace cascade touches each distinct word once and
    // the economics are freq-weighted sums (identical totals). Token
    // counts fall out of the frame arithmetic (pipes − 1 = symbols);
    // the aggregate is one shuffle on source.
    // The oracle re-learns the merges via the l39 unrolled CTEs and
    // applies them with scalar subqueries — engine-independently equal
    // because l39's gate proves the merge tables match.
    "l42_bpe_encode" -> { (s, dir) =>
      Tables.registerAll(s, dir)
      val applies = bpeLearnMerges(s).map(_._2).foldLeft("r") { (e, pair) =>
        val esc = pair.replace("'", "''")
        s"""replace($e, concat('|', replace('$esc', ' ', '|'), '|'),
           |          concat('|', replace('$esc', ' ', ''), '|'))""".stripMargin
      }
      // encode the per-source VOCABULARY and weight by frequency — same
      // totals as encoding every occurrence, but the merge-apply chain
      // (the expensive per-row replace cascade) runs per distinct
      // (source, word), and the corpus contributes one histogram scan
      s.sql(
        s"""WITH v AS (
           |  SELECT source, concat('|', regexp_replace(w, '(.)', '$$1|')) AS r,
           |    CAST(count(*) AS BIGINT) AS freq
           |  FROM (SELECT source, explode(split(lower(text), ' ')) AS w
           |        FROM documents) ww
           |  WHERE w <> '' GROUP BY 1, 2
           |), enc AS (
           |  SELECT source, $applies AS r, freq FROM v
           |)
           |SELECT source, CAST(sum(freq) AS BIGINT) AS n_words,
           |  CAST(sum(freq * length(replace(r, '|', ''))) AS BIGINT) AS n_chars,
           |  CAST(sum(freq * (length(r) - length(replace(r, '|', '')) - 1))
           |    AS BIGINT) AS n_tokens
           |FROM enc GROUP BY source ORDER BY source""".stripMargin)
    },

    // ---- l15: end-to-end curation pipeline ---------------------------
    // The composed shape a training-data run actually executes: one scan →
    // exact dedup (keep min doc_id per content hash, one shuffle) →
    // quality gates (token count window, chars-per-token band) →
    // per-source yield report with an en-like language flag. 100 TB: a
    // single dedup shuffle plus map-side filters; every downstream stat is
    // an integer so the oracle is exact.
    "l15_curation_pipeline" -> { (s, dir) =>
      Tables.registerAll(s, dir)
      s.sql(
        """WITH keyed AS (
          |  SELECT doc_id, source, lang, text, n_chars,
          |    md5(lower(text)) AS k, size(split(text, ' ')) AS n_tok
          |  FROM documents
          |), keepers AS (
          |  SELECT k, min(doc_id) AS keeper FROM keyed GROUP BY k
          |), dedup AS (
          |  SELECT d.* FROM keyed d
          |  JOIN keepers kp ON d.k = kp.k AND d.doc_id = kp.keeper
          |), curated AS (
          |  SELECT * FROM dedup
          |  WHERE n_tok BETWEEN 5 AND 1000
          |    AND CAST(n_chars AS DOUBLE) / n_tok BETWEEN 2 AND 20
          |)
          |SELECT source,
          |  count(*) AS n_kept,
          |  CAST(sum(n_chars) AS BIGINT) AS kept_chars,
          |  CAST(sum(CASE WHEN instr(concat(' ', text, ' '), ' the ') > 0
          |    THEN 1 ELSE 0 END) AS BIGINT) AS n_en_like
          |FROM curated GROUP BY source ORDER BY source""".stripMargin)
    },

    // ---- m01: multimodal decode -------------------------------------
    // Typed mapPartitions decode over an opaque binary column of REAL PNG
    // payloads (graft.operators.MultimodalOps — javax.imageio both ways).
    // Dimensions are content-hash-derived (1..256), so the oracle
    // recomputes them arithmetically while Spark actually renders and
    // re-parses the containers.
    "m01_multimodal_decode" -> { (s, dir) =>
      Tables.registerAll(s, dir)
      import org.apache.spark.sql.functions.{col, count, expr, lit, sum}
      graft.operators.MultimodalOps
        .decodeDocuments(s, s.table("documents"))
        .toDF()
        .groupBy(expr("width DIV 32").cast("int").as("w_bucket"))
        .agg(count(lit(1)).as("n"), sum(col("n_pixels")).cast("long").as("sum_pixels"))
        .orderBy(col("w_bucket"))
    },

    // ---- m02: audio feature extraction --------------------------------
    // The audio twin of m01: REAL WAV containers (RIFF + 16-bit mono PCM,
    // graft.operators.AudioOps) synthesized per doc, re-parsed per
    // partition, frame features (peak / zero crossings / energy)
    // extracted from the decoded samples. Integer square-wave synthesis
    // keeps every feature exact, so the oracle recomputes them in closed
    // form while Spark exercises the container round-trip.
    "m02_audio_features" -> { (s, dir) =>
      Tables.registerAll(s, dir)
      import org.apache.spark.sql.functions.{col, count, expr, lit, max, sum}
      graft.operators.AudioOps
        .audioFeatures(s, s.table("documents"))
        .toDF()
        .groupBy(expr("n_samples DIV 100").cast("int").as("len_bucket"))
        .agg(count(lit(1)).as("n"),
          sum(col("zero_crossings")).cast("long").as("sum_zc"),
          sum(col("energy")).cast("long").as("sum_energy"),
          max(col("peak")).cast("int").as("max_peak"))
        .orderBy(col("len_bucket"))
    },

    // ---- m04: perceptual-hash image near-dup ---------------------------
    // The image face of the dedup surface: REAL gradient-pattern PNGs
    // render per doc (content-derived params, doc_id-derived ±1 gray
    // perturbation), the aHash computes from DECODED pixels (8×8 sampled
    // grid, integer-exact mean bit test), and near-dup candidates come
    // from a 4×16-bit banded join with the l02b/l11b mega-bucket cap +
    // sentinel. PNG is lossless, so the pixel-derived hash matches the
    // oracle's closed-form arithmetic bit for bit. The hash relation is
    // 20 bytes/doc — localCheckpoint'd so the codec pipeline runs once,
    // not once per self-join branch. 100 TB: render/decode/hash are
    // map-only; the banded join shuffles 4 rows/doc of 20 bytes.
    "m04_image_phash_neardup" -> { (s, dir) =>
      Tables.registerAll(s, dir)
      graft.operators.MultimodalOps.imageHashes(s, s.table("documents"))
        .toDF().localCheckpoint().createOrReplaceTempView("m04_hashes")
      s.sql(
        """WITH bands AS (
          |  SELECT doc_id, b AS k,
          |    CASE b WHEN 0 THEN b0 WHEN 1 THEN b1 WHEN 2 THEN b2 ELSE b3 END AS sig
          |  FROM m04_hashes LATERAL VIEW explode(sequence(0, 3)) t AS b
          |), eligible AS (
          |  SELECT k, sig FROM bands GROUP BY k, sig HAVING count(*) <= 50
          |), capped AS (
          |  SELECT CAST(count(*) AS BIGINT) AS n FROM (
          |    SELECT k, sig FROM bands GROUP BY k, sig HAVING count(*) > 50) c
          |), cand AS (
          |  SELECT DISTINCT a.doc_id AS d1, bb.doc_id AS d2
          |  FROM bands a
          |  JOIN eligible e ON a.k = e.k AND a.sig = e.sig
          |  JOIN bands bb ON a.k = bb.k AND a.sig = bb.sig
          |    AND a.doc_id < bb.doc_id
          |), pairs AS (
          |  SELECT c.d1, c.d2,
          |    bit_count(ha.b0 ^ hb.b0) + bit_count(ha.b1 ^ hb.b1) +
          |    bit_count(ha.b2 ^ hb.b2) + bit_count(ha.b3 ^ hb.b3) AS hd
          |  FROM cand c
          |  JOIN m04_hashes ha ON c.d1 = ha.doc_id
          |  JOIN m04_hashes hb ON c.d2 = hb.doc_id
          |)
          |SELECT CAST(hd AS INT) AS hd, CAST(count(*) AS BIGINT) AS n_pairs
          |FROM pairs WHERE hd <= 6 GROUP BY hd
          |UNION ALL
          |SELECT CAST(-1 AS INT) AS hd, n AS n_pairs FROM capped
          |ORDER BY hd""".stripMargin)
    },

    // ---- m05: joint image+caption near-dup census (CLIP-style) ---------
    // Candidates from EITHER modality's bands, confirmed on BOTH — see
    // jointNeardupSql. Image hashes decode the real PNGs (m04's view).
    "m05_joint_neardup" -> { (s, dir) =>
      Tables.registerAll(s, dir)
      graft.functions.NGramFunctions.register(s)
      graft.operators.MultimodalOps.imageHashes(s, s.table("documents"))
        .toDF().localCheckpoint().createOrReplaceTempView("m05_hashes")
      s.sql(jointNeardupSql(spark = true))
    },

    // ---- l16: winnowing fingerprints ---------------------------------
    // The MOSS scheme (the rolling-hash fingerprinting standard for
    // near-dup/plagiarism detection): hash every positional 5-gram, keep
    // the MINIMUM hash of each sliding window of 4 — guaranteeing shared
    // substrings of length >= 8 share a fingerprint. 100 TB: the whole
    // winnow (gram hash → window min → per-doc distinct) runs INSIDE each
    // document row via array functions — zero rows leave the map stage
    // until the per-doc distinct fingerprints explode, so no cross-doc
    // sort or shuffle ever sees the ~N-per-char positional grams (the r4
    // shape exploded every position into a window sort + DISTINCT: 3 wide
    // shuffles of length(text) rows per doc, and the suite's slowest
    // query). Doc pairs still meet only through the fingerprint GROUP BY
    // — never all-pairs.
    "l16_winnowing" -> { (s, dir) =>
      Tables.registerAll(s, dir)
      graft.functions.WinnowFunctions.register(s)
      // the whole winnow (gram md5 -> window min -> per-doc distinct) is
      // one codegen'd expression (WinnowOps, spec-asserted equal to the
      // r5 array-function chain it replaces, which paid ~2·length(text)
      // interpreted lambda calls per doc)
      s.sql(
        s"""WITH fps AS (
          |  SELECT doc_id, fp
          |  FROM (SELECT ${Tables.spreadHint(s)} doc_id, text FROM documents
          |        WHERE length(text) >= 8) d
          |  LATERAL VIEW explode(winnow_fingerprints(text, 5, 4)) t AS fp
          |), shared AS (
          |  SELECT fp, count(*) AS docs FROM fps GROUP BY fp
          |)
          |SELECT CAST(count(*) AS BIGINT) AS n_fingerprints,
          |  CAST(count(CASE WHEN docs > 1 THEN 1 END) AS BIGINT) AS n_shared_fps,
          |  CAST(max(docs) AS BIGINT) AS max_docs_per_fp,
          |  CAST(sum(docs) AS BIGINT) AS n_doc_fps
          |FROM shared""".stripMargin)
    },

    // ---- l17: stratified training-mix sampling ------------------------
    // Deterministic per-language downsampling — the training-mix step of a
    // curation pipeline: each doc hashes to a bucket in [0,100) and
    // survives iff bucket < its language's rate (rates here derived from
    // the language name hash; in production a config table). 100 TB: one
    // scan, rate table broadcast, sampling is a map-side predicate —
    // deterministic (re-runs keep the same sample) and skew-free.
    "l17_stratified_sample" -> { (s, dir) =>
      Tables.registerAll(s, dir)
      val docBucket =
        s"((${nibSpark("md5(CAST(doc_id AS STRING))", 1)} * 16 + " +
          s"${nibSpark("md5(CAST(doc_id AS STRING))", 2)}) * 256 + " +
          s"(${nibSpark("md5(CAST(doc_id AS STRING))", 3)} * 16 + " +
          s"${nibSpark("md5(CAST(doc_id AS STRING))", 4)})) % 100"
      s.sql(
        s"""WITH rates AS (
           |  SELECT lang, 20 + (${nibSpark("md5(lang)", 1)} % 8) * 10 AS pct
           |  FROM (SELECT DISTINCT lang FROM documents)
           |), keyed AS (
           |  SELECT doc_id, lang, $docBucket AS bucket FROM documents
           |)
           |SELECT k.lang, CAST(max(r.pct) AS INT) AS pct,
           |  CAST(count(*) AS BIGINT) AS n_total,
           |  CAST(count(CASE WHEN k.bucket < r.pct THEN 1 END) AS BIGINT) AS n_sampled
           |FROM keyed k JOIN rates r ON k.lang = r.lang
           |GROUP BY k.lang ORDER BY k.lang""".stripMargin)
    },

    // ---- l18: repetition-based quality filters ------------------------
    // The Gopher-style repetition gates (Rae et al. 2021 §A1.1): flag
    // documents whose duplicate-token share or top-bigram share exceeds a
    // threshold. 100 TB: EVERYTHING is map work — duplicate-token share
    // via array_distinct on the token array, and the top-bigram stats via
    // the codegen'd ngram_rep_stats (per-doc hash map, O(grams) time —
    // linear even on the adversarially repetitive docs this filter
    // exists to catch, unlike the O(n·distinct) HOF form; spec-asserted
    // equal to the exploded (doc,g) aggregation, which remains the
    // oracle). The only exchange in the plan is the per-source rollup.
    "l18_repetition_quality" -> { (s, dir) =>
      Tables.registerAll(s, dir)
      graft.functions.NGramFunctions.register(s)
      s.sql(
        s"""WITH scored AS (
          |  SELECT source, n_tok, n_uniq, st.top_c AS top_c, st.n_bg AS n_bg,
          |    1.0 - CAST(n_uniq AS DOUBLE) / n_tok AS dup_frac,
          |    CAST(st.top_c AS DOUBLE) / st.n_bg AS top_bigram_frac
          |  FROM (
          |    SELECT source, size(split(text, ' ')) AS n_tok,
          |      size(array_distinct(split(text, ' '))) AS n_uniq,
          |      ngram_rep_stats(text, 2) AS st
          |    FROM (SELECT ${Tables.spreadHint(s)} source, text FROM documents)
          |    WHERE size(split(text, ' ')) >= 2) d
          |)
          |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
          |  CAST(count(CASE WHEN dup_frac > 0.8 OR top_bigram_frac > 0.1
          |    THEN 1 END) AS BIGINT) AS n_flagged,
          |  round(CAST(sum(n_tok - n_uniq) AS DOUBLE)
          |    / CAST(sum(n_tok) AS DOUBLE), 6) AS dup_tok_share,
          |  round(CAST(sum(top_c) AS DOUBLE)
          |    / CAST(sum(n_bg) AS DOUBLE), 6) AS top_bigram_share
          |FROM scored GROUP BY source ORDER BY source""".stripMargin)
    },

    // ---- l19: train/eval decontamination ------------------------------
    // Benchmark-contamination sweep: find training documents sharing any
    // word n-gram with the held-out eval sources. 100 TB: the eval side's
    // distinct grams are small (eval sets are thousands of docs, not
    // billions) → Spark broadcasts them; the training side streams
    // map-side through the broadcast hash join, so nothing wide shuffles.
    // The gram order (3) is fixture-sized — production decontamination
    // uses 8-13-gram overlap, same plan shape.
    "l19_decontamination" -> { (s, dir) =>
      Tables.registerAll(s, dir)
      graft.functions.NGramFunctions.register(s)
      // grams dedup per doc BEFORE the join (array_distinct is map work),
      // so the join output is unique-(doc, gram) by construction and no
      // wide post-join DISTINCT aggregation is needed — the first cut ran
      // one over the entire exploded join output (11 s at sf0.1, the
      // slowest query in the suite; this shape is ~1 s). This entry is the
      // FORCED exact arm of decontaminationSql; l23 below is the chosen
      // shape.
      s.sql(decontaminationSql(s, n = 3, bloom = false))
    },

    // ---- m03: video frame sampling ------------------------------------
    // The video twin of m01/m02: REAL framed-PNG containers
    // (graft.operators.VideoOps) synthesized per doc, then stride-sampled
    // — sampled frames get a full pixel decode, skipped frames are hopped
    // over by length index without touching their bytes. The extracted
    // feature (sum of frame ids stamped in pixel (0,0)) can only come out
    // of decoded pixels; the oracle recomputes every aggregate from the
    // hash-derived clip geometry in closed form.
    "m03_video_frames" -> { (s, dir) =>
      Tables.registerAll(s, dir)
      import org.apache.spark.sql.functions.{col, count, lit, sum}
      graft.operators.VideoOps
        .sampleDocuments(s, s.table("documents"))
        .toDF()
        .groupBy(col("n_frames"))
        .agg(count(lit(1)).as("n"),
          sum(col("n_sampled")).cast("long").as("sum_sampled"),
          sum(col("n_pixels_sampled")).cast("long").as("sum_pixels"),
          sum(col("sum_frame_ids")).cast("long").as("sum_frame_ids"))
        .orderBy(col("n_frames"))
    },

    // ---- l09b: banded sign-LSH near-dup (production width) --------------
    // l09's scale sibling, per the l02b/l11b precedent: see
    // signLshBandedSql for the full shape (16 hyperplanes, 4 OR-bands,
    // observable mega-bucket cap, exact-cosine confirm).
    "l09b_signlsh_banded" -> { (s, dir) =>
      Tables.registerAll(s, dir)
      graft.functions.VectorFunctions.register(s)
      s.sql(signLshBandedSql(spark = true))
    },

    // ---- l20: corpus TF-IDF term scoring -------------------------------
    // Top terms by tf·idf (idf = ln(N/df)) — the keyword/vocabulary stats
    // pass of a curation pipeline. 100 TB: one shuffle on term for the
    // (tf, df) aggregate; the corpus size N is a scalar broadcast. The
    // double product is rounded to 4 places on both engines (same
    // convention as f11's transcendental pack).
    "l20_tfidf_terms" -> { (s, dir) =>
      Tables.registerAll(s, dir)
      s.sql(
        s"""WITH tok AS (
          |  SELECT doc_id, w
          |  FROM (SELECT ${Tables.spreadHint(s)} doc_id, text FROM documents)
          |  LATERAL VIEW explode(split(text, ' ')) t AS w
          |  WHERE w <> ''
          |), stats AS (
          |  SELECT w AS term, count(*) AS tf, count(DISTINCT doc_id) AS df
          |  FROM tok GROUP BY w
          |), n AS (SELECT count(*) AS n_docs FROM documents)
          |SELECT term, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
          |  round(tf * ln(CAST(n_docs AS DOUBLE) / df), 4) AS tfidf
          |FROM stats CROSS JOIN n
          |ORDER BY tfidf DESC, term
          |LIMIT 25""".stripMargin)
    },

    // ---- l21: PII scan + redaction accounting --------------------------
    // Regex PII detection (emails, SSN-shaped ids) and redaction length
    // accounting per source. The corpus is synthetic, so deterministic PII
    // is INJECTED first (doc_id-derived, identically in both engines) and
    // then found again — the scan/redact machinery under test is real:
    // regexp_extract_all + global regexp_replace, pure map work (one small
    // per-source aggregate at the end; no shuffle touches full texts).
    // Patterns use [.]/[0-9] classes — no backslash, so Spark (Java regex)
    // and DuckDB (RE2) parse the identical pattern string.
    "l21_pii_scan" -> { (s, dir) =>
      Tables.registerAll(s, dir)
      val email = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+[.][a-zA-Z]{2,}"
      val ssn = "[0-9]{3}-[0-9]{2}-[0-9]{4}"
      s.sql(
        s"""WITH aug AS (
           |  SELECT doc_id, source,
           |    CASE
           |      WHEN doc_id % 7 = 0 THEN concat(text, ' contact user',
           |        CAST(doc_id AS STRING), '@example.com now')
           |      WHEN doc_id % 11 = 0 THEN concat(text, ' id ',
           |        lpad(CAST(doc_id % 1000 AS STRING), 3, '0'), '-45-6789 on file')
           |      ELSE text END AS text
           |  FROM documents
           |), scanned AS (
           |  SELECT source,
           |    size(regexp_extract_all(text, '$email', 0)) AS n_email,
           |    size(regexp_extract_all(text, '$ssn', 0)) AS n_ssn,
           |    length(text) - length(regexp_replace(text, '$email|$ssn', '[PII]'))
           |      AS chars_redacted
           |  FROM aug
           |)
           |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           |  CAST(sum(n_email) AS BIGINT) AS n_emails,
           |  CAST(sum(n_ssn) AS BIGINT) AS n_ssn,
           |  CAST(sum(chars_redacted) AS BIGINT) AS chars_redacted
           |FROM scanned GROUP BY source ORDER BY source""".stripMargin)
    },

    // ---- l22: bloom-prefiltered decontamination -------------------------
    // l19's scale path for when the eval gram set is too large to
    // broadcast raw but its bloom fits in a few MB: build the bloom as a
    // normal distributed aggregate (partial blooms OR-merge), hand it to
    // every probe as a scalar subquery (Spark plants it as a constant —
    // no join, no broadcast exchange), drop ~all clean grams map-side
    // inside codegen, then exact-confirm the tiny survivor set against the
    // eval grams so bloom false positives never reach the output. Result
    // is bit-identical to exact decontamination — the oracle below is the
    // plain exact SQL with no bloom anywhere. 100 TB: the corpus-side
    // shuffle shrinks from every (doc, gram) pair to true-hits +
    // fpp·grams; fpp is the num_bits knob (same sizing discipline as
    // Spark's own runtime bloom-join filters, which this reuses).
    "l22_bloom_decontamination" -> { (s, dir) =>
      Tables.registerAll(s, dir)
      graft.functions.NGramFunctions.register(s)
      graft.functions.BloomFunctions.register(s)
      // the distinct eval gram set (ev) feeds BOTH the bloom build and the
      // exact-confirm join; Spark inlines the CTE, so it computes twice.
      // Measured A/B at sf0.1 (median of 5, quiet box): persist 1.51 s vs
      // recompute 1.25 s — the eval subtree (scan 10% of docs + explode +
      // distinct) is on the cheap side of the materialize() rule, like
      // l11, so it recomputes. At cluster scale with a multi-TB eval
      // corpus the trade flips: land the gram set in a temp table once
      // and point both consumers at it. This entry is the FORCED bloom
      // arm of decontaminationSql; l23 below is the chosen shape.
      s.sql(decontaminationSql(s, n = 4, bloom = true))
    },

    // ---- l23: decontamination, shape chosen automatically ---------------
    // The l19/l22 crossover codified (VERDICT r7 next #4): the chooser
    // probes the eval gram-set size against the session's broadcast
    // threshold at query build and picks the exact broadcast-join shape
    // or the bloom-prefiltered shape. Both arms are answer-identical
    // (l22's bloom exact-confirms its survivors), so ONE exact oracle
    // gates this entry no matter which arm the chooser picks — on the
    // fixtures that's the exact arm; a production eval corpus beyond the
    // broadcast threshold flips it to bloom with no code change.
    "l23_decontamination_auto" -> { (s, dir) =>
      Tables.registerAll(s, dir)
      graft.functions.NGramFunctions.register(s)
      graft.functions.BloomFunctions.register(s)
      s.sql(decontaminationSql(s, n = 3,
        bloom = decontaminationShape(s, n = 3) == "bloom"))
    }
  )

  // ---- l46: chunk-level dedup with reconstruction ---------------------
  /** C4/RefinedWeb-style repeated-passage removal, adapted to the
    * newline-free corpus: split each doc into fixed K=8-word chunks,
    * drop every occurrence of a repeated chunk except the corpus-wide
    * first (min (doc_id, position)), and reassemble each doc from its
    * surviving chunks in order. Short tail chunks (< 4 words) are never
    * dedup-eligible — the "only full passages count" rule real pipelines
    * use so a 1-word tail can't erase content on a chance collision.
    * The reconstruction is pinned cross-engine by md5(rebuilt_text), not
    * by shipping the text. 100 TB shape: chunk explode is map-side; the
    * first-occurrence rule is one shuffle on chunk hash with partial-agg
    * min (no caps needed — exact-hash dedup is linear, unlike the banded
    * families); reassembly and the doc-level join share the doc_id
    * partitioning. The occurrence key packs (doc_id, position) into one
    * BIGINT so "first" is a plain min, not a struct-ordering dependency
    * — radix 2^32 (ADVICE r13): a chunk index can never reach 2^32
    * (that's a 34-billion-word document), and doc_id must stay below
    * 2^31 for the product to fit a signed 64-bit int.
    */
  private def chunkDedupSql(spark: Boolean): String = {
    val k = 8
    val ch =
      if (spark)
        s"""SELECT doc_id, inline(transform(
           |    sequence(0, CAST(ceil(size(ws) / $k.0) AS INT) - 1),
           |    i -> named_struct('ci', CAST(i AS BIGINT),
           |      'chunk', concat_ws(' ', slice(ws, i * $k + 1, $k)))))
           |  FROM w"""
      else
        s"""SELECT doc_id, i AS ci,
           |    array_to_string(ws[i * $k + 1 : i * $k + $k], ' ') AS chunk
           |  FROM w, unnest(range(CAST(ceil(len(ws) / $k.0) AS BIGINT))) AS t(i)"""
    val agg =
      if (spark)
        "array_join(transform(array_sort(collect_list(" +
          "named_struct('ci', ci, 'chunk', chunk))), x -> x.chunk), ' ')"
      else "string_agg(chunk, ' ' ORDER BY ci)"
    val split = if (spark) "split(text, ' ')" else "string_split(text, ' ')"
    val nWords =
      if (spark) "size(split(chunk, ' '))" else "len(string_split(chunk, ' '))"
    s"""WITH w AS (
       |  SELECT doc_id, $split AS ws FROM documents
       |), ch AS (
       |  $ch
       |), keyed AS (
       |  SELECT doc_id, ci, chunk, md5(chunk) AS h,
       |    doc_id * 4294967296 + ci AS occ,
       |    $nWords >= 4 AS elig
       |  FROM ch
       |), firsts AS (
       |  SELECT h, min(occ) AS first_occ FROM keyed WHERE elig GROUP BY h
       |), kept AS (
       |  SELECT k.doc_id, k.ci, k.chunk
       |  FROM keyed k LEFT JOIN firsts f ON k.h = f.h
       |  WHERE NOT k.elig OR k.occ = f.first_occ
       |), reb AS (
       |  SELECT doc_id, $agg AS rebuilt, count(*) AS kept_chunks
       |  FROM kept GROUP BY doc_id
       |), tot AS (
       |  SELECT doc_id, count(*) AS n_chunks FROM keyed GROUP BY doc_id
       |)
       |SELECT t.doc_id,
       |  CAST(t.n_chunks AS BIGINT) AS n_chunks,
       |  CAST(coalesce(r.kept_chunks, 0) AS BIGINT) AS kept_chunks,
       |  CAST(t.n_chunks - coalesce(r.kept_chunks, 0) AS BIGINT)
       |    AS dropped_chunks,
       |  md5(coalesce(r.rebuilt, '')) AS rebuilt_md5,
       |  CAST(length(coalesce(r.rebuilt, '')) AS BIGINT) AS rebuilt_len
       |FROM tot t LEFT JOIN reb r ON r.doc_id = t.doc_id
       |ORDER BY t.doc_id""".stripMargin
  }

  // ---- l47: leakage-free split assignment -----------------------------
  /** Train/val/test assignment keyed by DUPLICATE CLUSTER, not document:
    * split = multiplicative hash of the cluster's canonical label, so
    * every member of a near-dup cluster lands on the same side by
    * construction — the decontamination-by-design complement to l19's
    * after-the-fact scan. The audit column counts how many multi-member
    * clusters WOULD have straddled splits under the naive doc-keyed hash
    * (the defect this operator exists to prevent). The hash is plain
    * BIGINT arithmetic (Knuth multiplicative, mod 2^32, key pre-folded
    * into [0, 2^31) so the multiply can never wrap Int64 — safe for the
    * full signed-64 key domain under ANSI and in DuckDB) so both
    * engines agree bit-for-bit. 100 TB: labels are edge-node-sized (dup pairs
    * only); the documents join is one shuffle on doc_id; the census one
    * shuffle on cluster; the audit aggregate is a one-row broadcast.
    */
  private def clusterSplitSql(spark: Boolean): String = {
    def bucket(key: String) =
      s"((((($key % 2147483648) + 2147483648) % 2147483648) " +
        s"* 2654435761) % 4294967296) % 10"
    def cse(key: String) =
      s"""CASE WHEN ${bucket(key)} < 8 THEN 'train'
         |         WHEN ${bucket(key)} = 8 THEN 'val'
         |         ELSE 'test' END""".stripMargin
    val lab = if (spark) "l47_lab" else "lab"
    val prefix = if (spark) "WITH " else dedupLabelsDuckCtes + "\n, "
    s"""${prefix}asg AS (
       |  SELECT d.doc_id, d.source, d.n_chars,
       |    coalesce(l.lbl, d.doc_id) AS cluster
       |  FROM documents d LEFT JOIN $lab l ON l.node = d.doc_id
       |), sp AS (
       |  SELECT doc_id, source, n_chars, cluster,
       |    ${cse("cluster")} AS split,
       |    ${cse("doc_id")} AS naive_split
       |  FROM asg
       |), leak AS (
       |  SELECT CAST(count(*) AS BIGINT) AS naive_leaky FROM (
       |    SELECT cluster FROM sp GROUP BY cluster
       |    HAVING count(*) > 1 AND count(DISTINCT naive_split) > 1
       |  ) x
       |)
       |SELECT sp.split, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(count(DISTINCT sp.cluster) AS BIGINT) AS n_clusters,
       |  CAST(sum(sp.n_chars) AS BIGINT) AS sum_chars,
       |  max(lk.naive_leaky) AS naive_leaky_clusters
       |FROM sp CROSS JOIN leak lk
       |GROUP BY sp.split ORDER BY sp.split""".stripMargin
  }

  // ---- l48: hard-negative mining --------------------------------------
  /** Contrastive-training pair mining over the embeddings table: for a
    * deterministic anchor panel (vec_id % 31 = 0), the positive is the
    * nearest SAME-label vector and the hard negative the nearest
    * DIFFERENT-label vector, by exact cosine (round 6dp, vec_id
    * tie-break — the l03 discipline). The Spark side reduces the
    * anchor×corpus pair space with a partial-aggregated max-by
    * (lexicographic struct max on (sim, -vec_id)) — map-side combine,
    * one tiny shuffle on anchor id, never a full pair-space sort; the
    * oracle states the identical argmax as rank-1 windows. 100 TB: the
    * panel is fixed and broadcast (the l33 panel discipline); corpus
    * scan is one pass; the scale path for per-corpus-row mining is
    * IVF-cell-scoped (l12b) rather than exact — this entry pins the
    * exact semantics the approximate path is measured against.
    */
  private def hardNegativesSql(spark: Boolean): String = {
    def dot(a: String, b: String) =
      if (spark) dotSpark(a, b) else dotDuck(a, b)
    val argmax =
      if (spark)
        """pos AS (
          |  SELECT aid, max(named_struct('sim', sim, 'nid', -vec_id)) AS m
          |  FROM sims WHERE label = al GROUP BY aid
          |), posr AS (
          |  SELECT aid, -m.nid AS pos_id, m.sim AS pos_sim FROM pos
          |), neg AS (
          |  SELECT aid, max(named_struct('sim', sim, 'nid', -vec_id)) AS m
          |  FROM sims WHERE label <> al GROUP BY aid
          |), negr AS (
          |  SELECT aid, -m.nid AS neg_id, m.sim AS neg_sim FROM neg
          |)""".stripMargin
      else
        """posw AS (
          |  SELECT aid, vec_id AS pos_id, sim AS pos_sim,
          |    row_number() OVER (PARTITION BY aid
          |                       ORDER BY sim DESC, vec_id) AS rn
          |  FROM sims WHERE label = al
          |), posr AS (SELECT aid, pos_id, pos_sim FROM posw WHERE rn = 1
          |), negw AS (
          |  SELECT aid, vec_id AS neg_id, sim AS neg_sim,
          |    row_number() OVER (PARTITION BY aid
          |                       ORDER BY sim DESC, vec_id) AS rn
          |  FROM sims WHERE label <> al
          |), negr AS (SELECT aid, neg_id, neg_sim FROM negw WHERE rn = 1
          |)""".stripMargin
    s"""WITH a AS (
       |  SELECT vec_id AS aid, embedding AS ae, label AS al
       |  FROM embeddings WHERE vec_id % 31 = 0
       |), sims AS (
       |  SELECT a.aid, a.al, e.vec_id, e.label,
       |    round(${dot("e.embedding", "a.ae")}
       |      / (sqrt(${dot("e.embedding", "e.embedding")})
       |         * sqrt(${dot("a.ae", "a.ae")})), 6) AS sim
       |  FROM embeddings e CROSS JOIN a WHERE e.vec_id <> a.aid
       |), $argmax
       |SELECT p.aid AS anchor, p.pos_id, p.pos_sim, n.neg_id, n.neg_sim,
       |  round(p.pos_sim - n.neg_sim, 6) AS margin
       |FROM posr p JOIN negr n ON n.aid = p.aid
       |ORDER BY anchor""".stripMargin
  }

  // ---- l49: epoch-budget allocation under per-source repeat caps ------
  /** The data-constrained mixing solver (the "how many epochs of each
    * source" decision behind every LLM data recipe, cf. Muennighoff et
    * al., Scaling Data-Constrained LMs): allocate a global token budget
    * across sources proportionally to mixture weight, but cap every
    * source at `maxEpochs` passes over its available tokens — saturated
    * sources return their surplus to the pool, which re-waterfalls over
    * the unsaturated ones. Three integer waterfall rounds (the cascade
    * settles in ≤ #distinct-weight steps) + a largest-headroom top-up
    * for the floor residue. ALL arithmetic is BIGINT (floor division) —
    * bit-equal across engines by construction, no float drift. The
    * budget is stated RELATIVE to the corpus (3/2 of total tokens) so
    * the entry exercises both branches (saturated + proportional) at
    * any SF. 100 TB: state is one row per SOURCE (dozens) — the corpus
    * contributes exactly one group-by histogram; the solver itself is
    * driver-scale algebra expressed relationally.
    */
  /** The per-source token histogram l49's waterfall solves over. Exposed
    * separately so the Spark entry can materialize it ONCE
    * (localCheckpoint): Spark inlines CTEs, so feeding the raw WITH chain
    * to the planner re-derives `d` — a full corpus scan + tokenize — at
    * every one of the 63 downstream references (VERDICT r13 #2: 12.6 PB
    * of I/O at 100 TB for a solver whose state is dozens of rows).
    */
  private[graft] def epochHistSql(spark: Boolean): String = {
    val toks =
      if (spark) "size(filter(split(text, ' '), x -> x <> ''))"
      else "len(list_filter(str_split(text, ' '), x -> x <> ''))"
    s"""SELECT source, CAST(sum($toks) AS BIGINT) AS avail
       |FROM documents GROUP BY source""".stripMargin
  }

  private def epochBudgetSql(spark: Boolean,
                             dFrom: Option[String] = None): String = {
    val div = if (spark) "DIV" else "//"
    val rounds = 3
    val sb = new StringBuilder
    sb ++= s"""WITH d AS (
       |  ${dFrom.getOrElse(epochHistSql(spark))}
       |), bb AS (
       |  SELECT CAST(sum(avail) * 3 $div 2 AS BIGINT) AS budget FROM d
       |), s0 AS (
       |  SELECT source,
       |    CAST((CAST(substr(source, 4) AS INT) % 4) + 1 AS BIGINT) AS wt,
       |    avail, avail * 2 AS cap, CAST(0 AS BIGINT) AS alloc
       |  FROM d
       |)""".stripMargin
    for (k <- 0 until rounds) {
      sb ++= s""", tw$k AS (
         |  SELECT CAST(sum(CASE WHEN alloc < cap THEN wt ELSE 0 END)
         |    AS BIGINT) AS tw, CAST(sum(alloc) AS BIGINT) AS spent
         |  FROM s$k
         |), s${k + 1} AS (
         |  SELECT source, wt, avail, cap,
         |    CASE WHEN alloc < cap AND tw > 0 THEN
         |      least(cap, alloc + ((budget - spent) * wt $div tw))
         |    ELSE alloc END AS alloc
         |  FROM s$k CROSS JOIN tw$k CROSS JOIN bb
         |)""".stripMargin
    }
    sb ++= s""", fin AS (
       |  SELECT source, wt, avail, cap, alloc,
       |    row_number() OVER (ORDER BY
       |      CASE WHEN alloc < cap THEN 0 ELSE 1 END,
       |      cap - alloc DESC, source) AS rk
       |  FROM s$rounds
       |), lo AS (
       |  SELECT CAST(budget - (SELECT CAST(sum(alloc) AS BIGINT) FROM fin)
       |    AS BIGINT) AS leftover
       |  FROM bb
       |), f2 AS (
       |  SELECT f.source, f.avail, f.cap,
       |    f.alloc + CASE WHEN f.alloc < f.cap AND f.rk <= l.leftover
       |              THEN 1 ELSE 0 END AS alloc
       |  FROM fin f CROSS JOIN lo l
       |), un AS (
       |  SELECT CAST(budget - (SELECT CAST(sum(alloc) AS BIGINT) FROM f2)
       |    AS BIGINT) AS unallocated
       |  FROM bb
       |)
       |SELECT f.source, f.avail AS avail_toks, f.cap AS cap_toks,
       |  CAST(f.alloc AS BIGINT) AS alloc_toks,
       |  CAST(f.alloc * 10000 $div f.avail AS BIGINT) AS epochs_bp,
       |  CAST(CASE WHEN f.alloc >= f.cap THEN 1 ELSE 0 END AS INT)
       |    AS saturated,
       |  u.unallocated
       |FROM f2 f CROSS JOIN un u
       |ORDER BY f.source""".stripMargin
    sb.toString
  }

  // ---- l50: curriculum phase assignment --------------------------------
  /** Curriculum construction: order the corpus by a difficulty proxy
    * (token count) and cut it into 3 training phases of ntile sizes,
    * with 1-in-10 REPLAY of each phase into its successor (the standard
    * forgetting hedge). The tertile cut is computed WITHOUT a global
    * single-partition window: token counts have a tiny domain, so the
    * global position of a doc is `(cumulative histogram below my score)
    * + (my rank within my score)` — the histogram is a few hundred rows
    * and the within-score window partitions by score (distributed).
    * phase boundaries replicate ntile's size rule (first groups absorb
    * the remainder) in plain integer algebra, so both engines agree by
    * construction. The per-phase composition/order is pinned by a
    * modular fingerprint (Σ pos·doc_id mod p) — order-insensitive to
    * compute, order-SENSITIVE to the assignment. 100 TB: one histogram
    * aggregate + one score-partitioned window + one phase group-by; no
    * global sort ever materializes.
    */
  /** l50's difficulty-score relation (doc_id, score) — separate so the
    * Spark entry can tokenize the corpus ONCE behind a localCheckpoint
    * instead of once per downstream CTE reference (7 scans pre-r14).
    */
  private[graft] def curriculumScoreSql(spark: Boolean): String = {
    val toks =
      if (spark) "size(filter(split(text, ' '), x -> x <> ''))"
      else "len(list_filter(str_split(text, ' '), x -> x <> ''))"
    s"SELECT doc_id, $toks AS score FROM documents"
  }

  private def curriculumSql(spark: Boolean,
                            dFrom: Option[String] = None): String = {
    val div = if (spark) "DIV" else "//"
    s"""WITH d AS (
       |  ${dFrom.getOrElse(curriculumScoreSql(spark))}
       |), h AS (
       |  SELECT score, CAST(count(*) AS BIGINT) AS c FROM d GROUP BY score
       |), ch AS (
       |  SELECT score,
       |    CAST(sum(c) OVER (ORDER BY score
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
       |      AS BIGINT) AS below
       |  FROM h
       |), n AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n,
       |    CAST(count(*) $div 3 + CASE WHEN count(*) % 3 >= 1
       |      THEN 1 ELSE 0 END AS BIGINT) AS n1,
       |    CAST(2 * (count(*) $div 3) + CASE WHEN count(*) % 3 >= 1
       |      THEN 1 ELSE 0 END + CASE WHEN count(*) % 3 >= 2
       |      THEN 1 ELSE 0 END AS BIGINT) AS n2
       |  FROM d
       |), posd AS (
       |  SELECT d.doc_id, d.score,
       |    coalesce(c.below, 0) + row_number() OVER (
       |      PARTITION BY d.score ORDER BY d.doc_id) AS pos
       |  FROM d JOIN ch c ON c.score = d.score
       |), ph AS (
       |  SELECT doc_id, score, pos,
       |    CASE WHEN pos <= n.n1 THEN 1
       |         WHEN pos <= n.n2 THEN 2 ELSE 3 END AS phase
       |  FROM posd CROSS JOIN n
       |), rep AS (
       |  SELECT doc_id, score, pos, phase, 0 AS is_replay FROM ph
       |  UNION ALL
       |  SELECT doc_id, score, pos + (SELECT n FROM n), phase + 1, 1
       |  FROM ph WHERE phase < 3 AND doc_id % 10 = 0
       |)
       |SELECT CAST(phase AS INT) AS phase,
       |  CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(is_replay) AS BIGINT) AS n_replay,
       |  CAST(sum(score) AS BIGINT) AS sum_toks,
       |  CAST(min(score) AS BIGINT) AS min_score,
       |  CAST(max(score) AS BIGINT) AS max_score,
       |  CAST(sum((pos * doc_id) % 1000000007) % 1000000007 AS BIGINT)
       |    AS order_fp
       |FROM rep GROUP BY phase ORDER BY phase""".stripMargin
  }

  // ---- l51: margin-violation triplet mining ----------------------------
  /** The triplet-loss mining batch (FaceNet-style semi-hard mining) over
    * the embeddings table: for each anchor of the fixed panel (vec_id %
    * 31 = 0, the l33/l48 panel discipline), take the l48 positive (the
    * nearest same-label argmax) and the TOP-3 different-label neighbors,
    * keep triplets violating the 0.05 margin — loss = max(0, neg_sim −
    * pos_sim + m) > 0 — labeled 'hard' (negative beats positive) vs
    * 'semi' (within margin). The Spark positive is the l48 map-side
    * struct-max; the top-3 negatives are a rank window WITH a rank
    * predicate, which Catalyst executes as WindowGroupLimit — each map
    * task keeps ≤3 rows per anchor BEFORE the shuffle, so the window
    * never materializes the anchor×corpus pair space on a reducer.
    * 100 TB: panel fixed and broadcast; corpus read once; shuffle
    * volume is 3·|panel|·tasks rows.
    */
  private def tripletMiningSql(spark: Boolean): String = {
    def dot(a: String, b: String) =
      if (spark) dotSpark(a, b) else dotDuck(a, b)
    val pos =
      if (spark)
        """pos AS (
          |  SELECT aid, max(named_struct('sim', sim, 'nid', -vec_id)) AS m
          |  FROM sims WHERE label = al GROUP BY aid
          |), posr AS (
          |  SELECT aid, -m.nid AS pos_id, m.sim AS pos_sim FROM pos
          |)""".stripMargin
      else
        """posw AS (
          |  SELECT aid, vec_id AS pos_id, sim AS pos_sim,
          |    row_number() OVER (PARTITION BY aid
          |                       ORDER BY sim DESC, vec_id) AS rn
          |  FROM sims WHERE label = al
          |), posr AS (SELECT aid, pos_id, pos_sim FROM posw WHERE rn = 1
          |)""".stripMargin
    s"""WITH a AS (
       |  SELECT vec_id AS aid, embedding AS ae, label AS al
       |  FROM embeddings WHERE vec_id % 31 = 0
       |), sims AS (
       |  SELECT a.aid, a.al, e.vec_id, e.label,
       |    round(${dot("e.embedding", "a.ae")}
       |      / (sqrt(${dot("e.embedding", "e.embedding")})
       |         * sqrt(${dot("a.ae", "a.ae")})), 6) AS sim
       |  FROM embeddings e CROSS JOIN a WHERE e.vec_id <> a.aid
       |), $pos, negs AS (
       |  SELECT aid, vec_id AS neg_id, sim AS neg_sim,
       |    row_number() OVER (PARTITION BY aid
       |                       ORDER BY sim DESC, vec_id) AS neg_rank
       |  FROM sims WHERE label <> al
       |)
       |SELECT n.aid AS anchor, p.pos_id, p.pos_sim,
       |  CAST(n.neg_rank AS INT) AS neg_rank, n.neg_id, n.neg_sim,
       |  round(n.neg_sim - p.pos_sim + 0.05, 6) AS loss,
       |  CASE WHEN n.neg_sim >= p.pos_sim THEN 'hard' ELSE 'semi' END
       |    AS kind
       |FROM negs n JOIN posr p ON p.aid = n.aid
       |WHERE n.neg_rank <= 3 AND n.neg_sim > p.pos_sim - 0.05
       |ORDER BY anchor, neg_rank""".stripMargin
  }

  /** Shared l14/l38 oracle prefix: duplicate edges (exact-hash stars ∪
    * adjacent-id bigram-Jaccard) + exact connected components via the
    * recursive reachable-min CTE, ending at `lab(node, lbl)`. */
  private val dedupLabelsDuckCtes: String =
    s"""WITH RECURSIVE ex AS (
       |  SELECT doc_id, md5(lower(text)) AS k FROM documents
       |), exg AS (
       |  SELECT k, min(doc_id) AS root, count(*) AS n FROM ex GROUP BY k
       |), exedges AS (
       |  SELECT e.doc_id AS a, g.root AS b FROM ex e JOIN exg g ON e.k = g.k
       |  WHERE g.n > 1 AND e.doc_id <> g.root
       |), grams AS (
       |  SELECT doc_id, lang,
       |    list_distinct(list_transform(range(len(string_split(text, ' ')) - 1),
       |      i -> array_to_string((string_split(text, ' '))[i+1:i+2], ' '))) AS gr
       |  FROM documents WHERE len(string_split(text, ' ')) >= 2
       |), ndedges AS (
       |  SELECT a.doc_id AS a, b.doc_id AS b
       |  FROM grams a JOIN grams b ON a.lang = b.lang AND b.doc_id = a.doc_id + 1
       |  WHERE CAST(len(list_intersect(a.gr, b.gr)) AS DOUBLE)
       |    / (len(a.gr) + len(b.gr) - len(list_intersect(a.gr, b.gr))) > 0.05
       |), edges AS (
       |  SELECT a, b FROM exedges UNION SELECT a, b FROM ndedges
       |), bi AS (
       |  SELECT a, b FROM edges UNION ALL SELECT b AS a, a AS b FROM edges
       |), nodes AS (
       |  SELECT DISTINCT a AS node FROM bi
       |), r AS (
       |  SELECT node, node AS lbl FROM nodes
       |  UNION
       |  SELECT e.a AS node, r.lbl FROM bi e JOIN r ON r.node = e.b
       |), lab AS (
       |  SELECT node, min(lbl) AS lbl FROM r GROUP BY node
       |)""".stripMargin

  val oracles: Map[String, String] = Map(
    "l33_lsh_eval" -> lshEvalSql(spark = false),
    "l33b_lsh_autotune" -> lshAutoTuneSql(spark = false),
    "l40_ann_nprobe_tuner" -> annNprobeTunerSql(spark = false),
    "l41_data_card" -> dataCardSql(spark = false),
    "l44_quality_classifier" -> qualityLrOracleSql(),
    "l44b_quality_filter" -> qualityLrApplyOracleSql(),
    "l45_gopher_rules" -> gopherRulesSql(spark = false),
    "l46_chunk_dedup" -> chunkDedupSql(spark = false),
    "l47_cluster_safe_split" -> clusterSplitSql(spark = false),
    "l48_hard_negatives" -> hardNegativesSql(spark = false),
    "l49_epoch_budget" -> epochBudgetSql(spark = false),
    "l50_curriculum_phases" -> curriculumSql(spark = false),
    "l51_triplet_mining" -> tripletMiningSql(spark = false),
    "l02c_minhash_lsh_tuned" -> lshTunedCorpusSql(cap = LshBucketCap),
    "l32_mixture_sampling" -> mixSql(spark = false),
    "l31_cdc_chunking" -> cdcSql(spark = false),
    "l30_bigram_lm_score" -> lmSql(spark = false),
    "l28_dsir_importance" -> dsirSql(spark = false),
    "l29_source_overlap" -> overlapSql(spark = false),
    "l01_exact_dedup" ->
      """WITH keyed AS (
        |  SELECT doc_id, md5(lower(text)) AS k FROM documents
        |), groups AS (
        |  SELECT k, count(*) AS sz, min(doc_id) AS keeper FROM keyed GROUP BY k
        |)
        |SELECT count(*) AS n_unique,
        |  CAST(sum(sz) AS BIGINT) AS n_docs,
        |  CAST(sum(sz - 1) AS BIGINT) AS n_removed,
        |  CAST(sum(CASE WHEN sz > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_groups
        |FROM groups""".stripMargin,

    "l02_minhash_lsh" ->
      s"""WITH toks AS (
         |  SELECT doc_id, string_split(text, ' ') AS t FROM documents WHERE len(string_split(text, ' ')) >= 3
         |), sh AS (
         |  SELECT doc_id, unnest(list_transform(range(len(t) - 2),
         |    i -> array_to_string(t[i+1:i+3], ' '))) AS s
         |  FROM toks
         |), mh AS (
         |  SELECT doc_id,
         |    min(substr(md5(s || '#0'), 1, 8)) AS h0,
         |    min(substr(md5(s || '#1'), 1, 8)) AS h1,
         |    min(substr(md5(s || '#2'), 1, 8)) AS h2,
         |    min(substr(md5(s || '#3'), 1, 8)) AS h3
         |  FROM sh GROUP BY doc_id
         |), bands AS (
         |  SELECT doc_id, 0 AS band, h0 || h1 AS sig FROM mh
         |  UNION ALL
         |  SELECT doc_id, 1 AS band, h2 || h3 AS sig FROM mh
         |), buckets AS (
         |  SELECT band, sig, count(*) AS n FROM bands GROUP BY band, sig
         |), pairs AS (
         |  SELECT a.doc_id AS d1, b.doc_id AS d2
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
         |  JOIN buckets k ON k.band = a.band AND k.sig = a.sig
         |    AND k.n <= $LshBucketCap
         |)
         |SELECT count(*) AS n_candidate_pairs,
         |  count(DISTINCT concat(d1, '_', d2)) AS n_distinct_pairs,
         |  (SELECT CAST(count(*) AS BIGINT) FROM buckets
         |     WHERE n > 1 AND n <= $LshBucketCap) AS n_multi_buckets,
         |  (SELECT CAST(count(*) AS BIGINT) FROM buckets
         |     WHERE n > $LshBucketCap) AS n_dropped_buckets
         |FROM pairs""".stripMargin,

    "l03_ann_bruteforce" ->
      s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         |sims AS (
         |  SELECT e.vec_id,
         |    ${dotDuck("e.embedding", "q.qe")} AS dot,
         |    sqrt(${dotDuck("e.embedding", "e.embedding")}) AS ne,
         |    sqrt(${dotDuck("q.qe", "q.qe")}) AS nq
         |  FROM embeddings e CROSS JOIN q
         |  WHERE e.vec_id <> 0
         |)
         |SELECT vec_id, round(dot / (ne * nq), 6) AS sim
         |FROM sims ORDER BY sim DESC, vec_id LIMIT 10""".stripMargin,

    "l04_ann_lsh_bucketed" -> {
      val flips = (1 to 4).map { i =>
        s"concat(substr(qb, 1, ${i - 1}), " +
          s"CASE substr(qb, $i, 1) WHEN '1' THEN '0' ELSE '1' END, " +
          s"substr(qb, ${i + 1}))"
      }.mkString(", ")
      s"""WITH b AS (
         |  SELECT vec_id, embedding, ${bucketDuck("embedding")} AS bucket
         |  FROM embeddings
         |), q AS (SELECT embedding AS qe, bucket AS qb FROM b WHERE vec_id = 0),
         |probes AS (
         |  SELECT unnest([qb, $flips]) AS pb FROM q
         |),
         |sims AS (
         |  SELECT b.vec_id,
         |    ${dotDuck("b.embedding", "q.qe")} AS dot,
         |    sqrt(${dotDuck("b.embedding", "b.embedding")}) AS ne,
         |    sqrt(${dotDuck("q.qe", "q.qe")}) AS nq
         |  FROM b JOIN probes p ON b.bucket = p.pb CROSS JOIN q
         |  WHERE b.vec_id <> 0
         |)
         |SELECT vec_id, round(dot / (ne * nq), 6) AS sim
         |FROM sims ORDER BY sim DESC, vec_id LIMIT 5""".stripMargin
    },

    "l05_text_stats" ->
      """SELECT lang,
        |  count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS sum_tokens,
        |  CAST(max(len(string_split(text, ' '))) AS BIGINT) AS max_tokens,
        |  CAST(min(len(string_split(text, ' '))) AS BIGINT) AS min_tokens
        |FROM documents
        |GROUP BY lang ORDER BY lang""".stripMargin,

    "l06_langid_heuristic" ->
      """SELECT lang,
        |  CASE WHEN strpos(' ' || text || ' ', ' the ') > 0
        |       THEN 'en-like' ELSE 'other' END AS predicted,
        |  count(*) AS n
        |FROM documents
        |GROUP BY 1, 2 ORDER BY lang, predicted""".stripMargin,

    "l13_langid_trigram" ->
      """WITH tri AS (
        |  SELECT doc_id, lang,
        |    unnest(list_distinct(list_transform(range(length(text) - 2),
        |      i -> substr(text, i + 1, 3)))) AS g
        |  FROM documents WHERE length(text) >= 3
        |), counts AS (
        |  SELECT lang AS plang, g, count(*) AS n FROM tri GROUP BY lang, g
        |), profile AS (
        |  SELECT plang, g FROM (
        |    SELECT plang, g,
        |      row_number() OVER (PARTITION BY plang ORDER BY n DESC, g) AS rn
        |    FROM counts) t WHERE rn <= 20
        |), scores AS (
        |  SELECT t.doc_id, p.plang, count(*) AS score
        |  FROM tri t JOIN profile p ON t.g = p.g
        |  GROUP BY t.doc_id, p.plang
        |), best AS (
        |  SELECT doc_id, plang AS predicted FROM (
        |    SELECT doc_id, plang,
        |      row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, plang) AS rn
        |    FROM scores) t WHERE rn = 1
        |)
        |SELECT d.lang, coalesce(b.predicted, 'unknown') AS predicted,
        |  count(*) AS n
        |FROM documents d LEFT JOIN best b ON d.doc_id = b.doc_id
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "l07_simhash" -> {
      val nibD1 = "(strpos('0123456789abcdef', substr(h, 1, 1)) - 1)"
      val nibD2 = "(strpos('0123456789abcdef', substr(h, 2, 1)) - 1)"
      val votes = (0 until 8).map { b =>
        s"sum(2 * ((byte // ${1 << b}) % 2) - 1) AS s$b"
      }.mkString(", ")
      val hash = (0 until 8).map { b =>
        s"(CASE WHEN s$b > 0 THEN ${1 << b} ELSE 0 END)"
      }.mkString(" + ")
      s"""WITH tok AS (
         |  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
         |), tb AS (
         |  SELECT doc_id, ($nibD1 * 16 + $nibD2) AS byte
         |  FROM (SELECT doc_id, md5(w) AS h FROM tok)
         |), v AS (
         |  SELECT doc_id, $votes FROM tb GROUP BY doc_id
         |), f AS (
         |  SELECT doc_id, CAST($hash AS INT) AS simhash FROM v
         |)
         |SELECT simhash, count(*) AS n FROM f GROUP BY simhash
         |ORDER BY simhash""".stripMargin
    },

    "l08_ngram_jaccard" ->
      """WITH g AS (
        |  SELECT doc_id, lang,
        |    list_distinct(list_transform(range(len(string_split(text, ' ')) - 1),
        |      i -> array_to_string((string_split(text, ' '))[i+1:i+2], ' '))) AS grams
        |  FROM documents WHERE len(string_split(text, ' ')) >= 2
        |), pairs AS (
        |  SELECT a.doc_id AS d1, b.doc_id AS d2,
        |    len(list_intersect(a.grams, b.grams)) AS inter,
        |    len(a.grams) + len(b.grams)
        |      - len(list_intersect(a.grams, b.grams)) AS uni
        |  FROM g a JOIN g b ON a.lang = b.lang AND b.doc_id = a.doc_id + 1
        |)
        |SELECT d1, d2, round(CAST(inter AS DOUBLE) / uni, 6) AS jaccard
        |FROM pairs
        |ORDER BY jaccard DESC, d1 LIMIT 20""".stripMargin,

    "l09_embedding_neardup" ->
      s"""WITH b AS (
         |  SELECT vec_id, embedding, ${bucketDuck("embedding")} AS bucket,
         |    sqrt(${dotDuck("embedding", "embedding")}) AS nrm
         |  FROM embeddings
         |), pairs AS (
         |  SELECT a.vec_id AS v1, c.vec_id AS v2,
         |    ${dotDuck("a.embedding", "c.embedding")} / (a.nrm * c.nrm) AS sim
         |  FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id < c.vec_id
         |)
         |SELECT v1, v2, round(sim, 6) AS sim
         |FROM pairs WHERE sim > 0.4
         |ORDER BY sim DESC, v1, v2""".stripMargin,

    "l09b_signlsh_banded" -> signLshBandedSql(spark = false),

    "l10_regex_tokens" ->
      """WITH tk AS (
        |  SELECT source,
        |    len(regexp_extract_all(text, '[a-z0-9]+', 0)) AS n_tok,
        |    len(list_filter(regexp_extract_all(text, '[a-z0-9]+', 0),
        |      t -> list_contains(['the', 'a', 'of'], t))) AS n_stop,
        |    n_chars
        |  FROM documents
        |)
        |SELECT source,
        |  count(*) AS n_docs,
        |  CAST(sum(n_tok) AS BIGINT) AS sum_tokens,
        |  CAST(sum(n_stop) AS BIGINT) AS sum_stopwords,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM tk GROUP BY source ORDER BY source""".stripMargin,

    "l15_curation_pipeline" ->
      """WITH keyed AS (
        |  SELECT doc_id, source, lang, text, n_chars,
        |    md5(lower(text)) AS k, len(string_split(text, ' ')) AS n_tok
        |  FROM documents
        |), keepers AS (
        |  SELECT k, min(doc_id) AS keeper FROM keyed GROUP BY k
        |), dedup AS (
        |  SELECT d.* FROM keyed d
        |  JOIN keepers kp ON d.k = kp.k AND d.doc_id = kp.keeper
        |), curated AS (
        |  SELECT * FROM dedup
        |  WHERE n_tok BETWEEN 5 AND 1000
        |    AND CAST(n_chars AS DOUBLE) / n_tok BETWEEN 2 AND 20
        |)
        |SELECT source,
        |  count(*) AS n_kept,
        |  CAST(sum(n_chars) AS BIGINT) AS kept_chars,
        |  CAST(sum(CASE WHEN strpos(' ' || text || ' ', ' the ') > 0
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_en_like
        |FROM curated GROUP BY source ORDER BY source""".stripMargin,

    "l14_dedup_clusters" -> {
      // exact connected components via a recursive reachable-min CTE —
      // matches the Spark side's run-to-convergence propagation for ANY
      // chain diameter (a fixed round unroll would silently under-merge
      // long chains the moment Spark converges past it)
      s"""$dedupLabelsDuckCtes, cl AS (
         |  SELECT lbl, count(*) AS sz FROM lab GROUP BY lbl
         |)
         |SELECT sz, count(*) AS n_clusters FROM cl
         |GROUP BY sz ORDER BY sz""".stripMargin
    },

    "l38_canonical_pick" -> {
      // identical component labels (recursive CTE), identical argmax:
      // longest member wins, doc_id tie-break
      s"""$dedupLabelsDuckCtes, mem AS (
         |  SELECT lab.lbl, d.doc_id, length(d.text) AS len
         |  FROM lab JOIN documents d ON d.doc_id = lab.node
         |), ranked AS (
         |  SELECT lbl, doc_id, len,
         |    row_number() OVER (PARTITION BY lbl
         |                       ORDER BY len DESC, doc_id) AS rn,
         |    count(*) OVER (PARTITION BY lbl) AS members
         |  FROM mem
         |)
         |SELECT CAST(lbl AS BIGINT) AS cluster,
         |  CAST(doc_id AS BIGINT) AS kept_doc, CAST(len AS BIGINT) AS kept_len,
         |  CAST(members AS BIGINT) AS members,
         |  CAST(members - 1 AS BIGINT) AS dropped
         |FROM ranked WHERE rn = 1 AND members > 1
         |ORDER BY cluster""".stripMargin
    },

    "l39_bpe_merges" -> {
      // the same 3 BPE rounds, unrolled: pN counts pairs of state rN,
      // tN is the LIMIT-1 winner, rN+1 the '|'-framed merge rewrite.
      // States are the WORD-FREQUENCY table (freq-weighted pair sums,
      // identical counts) — the Spark side's vocab-sized formulation
      def pairs(src: String) =
        s"""SELECT pair, sum(freq) AS cnt FROM (
           |  SELECT freq, unnest(list_transform(range(len(t) - 1),
           |    i -> t[i+1] || ' ' || t[i+2])) AS pair
           |  FROM (SELECT freq, list_filter(string_split(r, '|'), x -> x <> '') AS t
           |        FROM $src) tt
           |) p GROUP BY pair""".stripMargin
      def rewrite(src: String, win: String) =
        s"""SELECT replace(r, '|' || replace(t.pair, ' ', '|') || '|',
           |                  '|' || replace(t.pair, ' ', '') || '|') AS r, freq
           |FROM $src CROSS JOIN $win t""".stripMargin
      s"""WITH w AS (
         |  SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents
         |), r0 AS (
         |  SELECT '|' || regexp_replace(w, '(.)', '\\1|', 'g') AS r,
         |    count(*) AS freq
         |  FROM w WHERE w <> '' GROUP BY 1
         |), p0 AS (
         |${pairs("r0")}
         |), t0 AS (
         |  SELECT pair, cnt FROM p0 ORDER BY cnt DESC, pair LIMIT 1
         |), r1 AS (
         |${rewrite("r0", "t0")}
         |), p1 AS (
         |${pairs("r1")}
         |), t1 AS (
         |  SELECT pair, cnt FROM p1 ORDER BY cnt DESC, pair LIMIT 1
         |), r2 AS (
         |${rewrite("r1", "t1")}
         |), p2 AS (
         |${pairs("r2")}
         |), t2 AS (
         |  SELECT pair, cnt FROM p2 ORDER BY cnt DESC, pair LIMIT 1
         |)
         |SELECT * FROM (
         |  SELECT CAST(0 AS INTEGER) AS step, pair, CAST(cnt AS BIGINT) AS cnt
         |  FROM t0
         |  UNION ALL
         |  SELECT CAST(1 AS INTEGER), pair, CAST(cnt AS BIGINT) FROM t1
         |  UNION ALL
         |  SELECT CAST(2 AS INTEGER), pair, CAST(cnt AS BIGINT) FROM t2
         |) u ORDER BY step""".stripMargin
    },

    "l39b_bpe_merges_batched" -> bpeBatchedOracleSql(),

    "l42_bpe_encode" -> {
      // the same 3 learned rounds, then the per-source token economics of
      // the final encoding r3. States are the per-(source, word)
      // FREQUENCY table; training pair counts sum freq ACROSS sources
      // (identical to the corpus-occurrence counts), the economics weight
      // by freq — the Spark side's vocab-sized formulation
      def pairs(src: String) =
        s"""SELECT pair, sum(freq) AS cnt FROM (
           |  SELECT freq, unnest(list_transform(range(len(t) - 1),
           |    i -> t[i+1] || ' ' || t[i+2])) AS pair
           |  FROM (SELECT freq, list_filter(string_split(r, '|'), x -> x <> '') AS t
           |        FROM $src) tt
           |) p GROUP BY pair""".stripMargin
      def rewrite(src: String, win: String) =
        s"""SELECT source, replace(r, '|' || replace(t.pair, ' ', '|') || '|',
           |                  '|' || replace(t.pair, ' ', '') || '|') AS r, freq
           |FROM $src CROSS JOIN $win t""".stripMargin
      s"""WITH w AS (
         |  SELECT source, unnest(string_split(lower(text), ' ')) AS w
         |  FROM documents
         |), r0 AS (
         |  SELECT source, '|' || regexp_replace(w, '(.)', '\\1|', 'g') AS r,
         |    count(*) AS freq
         |  FROM w WHERE w <> '' GROUP BY 1, 2
         |), p0 AS (
         |${pairs("r0")}
         |), t0 AS (
         |  SELECT pair, cnt FROM p0 ORDER BY cnt DESC, pair LIMIT 1
         |), r1 AS (
         |${rewrite("r0", "t0")}
         |), p1 AS (
         |${pairs("r1")}
         |), t1 AS (
         |  SELECT pair, cnt FROM p1 ORDER BY cnt DESC, pair LIMIT 1
         |), r2 AS (
         |${rewrite("r1", "t1")}
         |), p2 AS (
         |${pairs("r2")}
         |), t2 AS (
         |  SELECT pair, cnt FROM p2 ORDER BY cnt DESC, pair LIMIT 1
         |), r3 AS (
         |${rewrite("r2", "t2")}
         |)
         |SELECT source, CAST(sum(freq) AS BIGINT) AS n_words,
         |  CAST(sum(freq * length(replace(r, '|', ''))) AS BIGINT) AS n_chars,
         |  CAST(sum(freq * (length(r) - length(replace(r, '|', '')) - 1))
         |    AS BIGINT) AS n_tokens
         |FROM r3 GROUP BY source ORDER BY source""".stripMargin
    },

    "l11_simhash_hamming_join" -> {
      // oracle recomputes the 32-bit fingerprints from raw text with
      // DuckDB's own string/aggregate machinery, then finds hamming<=1
      // pairs via the same LINEAR flip-probe equality join (1 + 32 probe
      // keys per doc). The former all-pairs `a.doc_id < b.doc_id`
      // inequality-join form is O(n²) — fine at sf0.01, infeasible at
      // the 100× probe (500k docs → 1.25e11 comparisons); the probe form
      // is exact by construction and keeps the oracle linear (the
      // b03/l25b linear-restatement discipline, SCALE.md r13).
      def nibD(p: Int) = s"(strpos('0123456789abcdef', substr(h, $p, 1)) - 1)"
      val word = (2 to 8).foldLeft(s"CAST(${nibD(1)} AS BIGINT)") {
        (acc, p) => s"($acc * 16 + ${nibD(p)})"
      }
      val votes = (0 until 32).map { b =>
        s"sum(2 * ((word // ${1L << b}) % 2) - 1) AS s$b"
      }.mkString(", ")
      val hash = (0 until 32).map { b =>
        s"(CASE WHEN s$b > 0 THEN ${1L << b} ELSE 0 END)"
      }.mkString(" + ")
      s"""WITH tok AS (
         |  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
         |), tb AS (
         |  SELECT doc_id, CAST($word AS BIGINT) AS word
         |  FROM (SELECT doc_id, md5(w) AS h FROM tok)
         |), v AS (
         |  SELECT doc_id, $votes FROM tb GROUP BY doc_id
         |), f AS (
         |  SELECT doc_id, CAST($hash AS BIGINT) AS simhash FROM v
         |), probes AS (
         |  SELECT doc_id, simhash,
         |    unnest(list_prepend(simhash,
         |      list_transform(range(32), b -> xor(simhash, 1::BIGINT << b)))) AS probe
         |  FROM f
         |), pairs AS (
         |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2,
         |    CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hd
         |  FROM probes a JOIN f b ON a.probe = b.simhash AND a.doc_id < b.doc_id
         |)
         |SELECT hd, count(*) AS n_pairs FROM pairs
         |GROUP BY hd ORDER BY hd""".stripMargin
    },

    "l02b_minhash_lsh_wide" ->
      minhashLshSqlN(spark = false, nHashes = 8, bandSize = 2,
        cap = LshBucketCap),

    "l11b_simhash64_banded" -> simhash64Sql(spark = false),

    "l12_ann_ivf" -> ivfSql(spark = false),
    "l12b_ann_ivf_served" -> ivfServeOracleSql,
    "l24_semdedup" -> semDedupSql(spark = false),
    "l24b_semdedup_served" -> semDedupServedOracleSql(),
    "l34_ann_ivfpq_served" -> ivfPqOracleSql,

    "l43_rag_context" -> ivfPqOracleSql("embeddings", "",
      finalSelect = ragContextTail(spark = false)),

    // l36: the same IVFPQ recompute with the ADC scan restricted to
    // label-4 vectors — the filter stated as a join against the
    // metadata relation, which is what the labeled index materializes.
    "l36_ann_filtered" -> ivfPqOracleSql("embeddings", "",
      "\n       |  JOIN embeddings fe ON fe.vec_id = k.vec_id AND fe.label = 4"
        .stripMargin),

    "l37_hybrid_rrf" -> hybridRrfSql(spark = false),

    // l35: same IVFPQ recompute with training PINNED to the original
    // corpus and assignment/encode/rerank over the post-ingest union —
    // the frozen-quantizer add() contract stated relationally.
    "l35_ann_index_ingest" -> ivfPqOracleSql("emb2",
      """emb2 AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 100000 AS vec_id, embedding FROM embeddings
        |  WHERE vec_id % 7 = 3
        |),
        |""".stripMargin),
    "l25_substring_span_dedup" -> substringSpanSql(spark = false),
    "l25b_winnow_span_dedup" -> winnowSpanSql(spark = false),
    "l26_ann_pq" -> pqSql(spark = false),
    "l26b_ann_pq_served" -> pqSql(spark = false, trainSample = true),
    "l27_sequence_packing" -> packDuckSql,

    "m01_multimodal_decode" -> {
      val w = s"((${nib("md5(text)", 1)} * 16 + ${nib("md5(text)", 2)}) % 64 + 1)"
      val h = s"((${nib("md5(text)", 3)} * 16 + ${nib("md5(text)", 4)}) % 64 + 1)"
      s"""WITH m AS (
         |  SELECT doc_id, $w AS width, $h AS height, $w * $h AS n_pixels
         |  FROM documents
         |)
         |SELECT CAST(width // 32 AS INT) AS w_bucket, count(*) AS n,
         |  CAST(sum(n_pixels) AS BIGINT) AS sum_pixels
         |FROM m GROUP BY 1 ORDER BY 1""".stripMargin
    },

    "m05_joint_neardup" -> jointNeardupSql(spark = false),

    "m04_image_phash_neardup" -> {
      val w = s"(32 + ${nib("md5(text)", 1)} % 8)"
      val h = s"(32 + ${nib("md5(text)", 2)} % 8)"
      val a = s"(1 + ${nib("md5(text)", 3)})"
      val b = s"(1 + ${nib("md5(text)", 4)})"
      val q = s"(1 + ${nib("md5(text)", 5)} % 4)"
      s"""WITH p AS (
         |  SELECT doc_id, $w AS w, $h AS h, $a AS a, $b AS b, $q AS q,
         |    doc_id % 3 AS c
         |  FROM documents
         |), s AS (
         |  SELECT doc_id, j.j * 8 + i.i AS idx,
         |    (((i.i * w) // 8) * a + ((j.j * h) // 8) * b
         |      + ((i.i * w) // 8) * ((j.j * h) // 8) * q + c) % 251 AS lum
         |  FROM p, range(8) i(i), range(8) j(j)
         |), tot AS (
         |  SELECT doc_id, sum(lum) AS t FROM s GROUP BY doc_id
         |), bands AS (
         |  SELECT s.doc_id, (63 - idx) // 16 AS k,
         |    CAST(sum(CASE WHEN lum * 64 > t THEN 1 ELSE 0 END
         |      * (1 << ((63 - idx) % 16))) AS BIGINT) AS sig
         |  FROM s JOIN tot USING (doc_id) GROUP BY 1, 2
         |), eligible AS (
         |  SELECT k, sig FROM bands GROUP BY k, sig HAVING count(*) <= 50
         |), capped AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n FROM (
         |    SELECT k, sig FROM bands GROUP BY k, sig HAVING count(*) > 50) c
         |), cand AS (
         |  SELECT DISTINCT a.doc_id AS d1, bb.doc_id AS d2
         |  FROM bands a
         |  JOIN eligible e ON a.k = e.k AND a.sig = e.sig
         |  JOIN bands bb ON a.k = bb.k AND a.sig = bb.sig
         |    AND a.doc_id < bb.doc_id
         |), pairs AS (
         |  SELECT c.d1, c.d2,
         |    CAST(sum(bit_count(xor(ba.sig, bb2.sig))) AS INT) AS hd
         |  FROM cand c
         |  JOIN bands ba ON ba.doc_id = c.d1
         |  JOIN bands bb2 ON bb2.doc_id = c.d2 AND bb2.k = ba.k
         |  GROUP BY c.d1, c.d2
         |)
         |SELECT CAST(hd AS INT) AS hd, CAST(count(*) AS BIGINT) AS n_pairs
         |FROM pairs WHERE hd <= 6 GROUP BY hd
         |UNION ALL
         |SELECT CAST(-1 AS INT) AS hd, n AS n_pairs FROM capped
         |ORDER BY hd""".stripMargin
    },

    "m02_audio_features" -> {
      // closed-form square-wave features: Spark round-trips real WAV
      // containers; the oracle recomputes from the integer definition
      val n = s"(200 + (${nib("md5(text)", 1)} * 16 + ${nib("md5(text)", 2)}) * 2)"
      val p = s"(8 + (${nib("md5(text)", 3)} * 16 + ${nib("md5(text)", 4)}) % 50)"
      val a = s"(500 + (${nib("md5(text)", 5)} * 16 + ${nib("md5(text)", 6)}) * 8)"
      s"""WITH m AS (
         |  SELECT doc_id, $n AS n_samples, $a AS peak,
         |    len(list_filter(range(1, $n), i ->
         |      ((((i - 1) % $p) * 2 < $p)) != (((i % $p) * 2 < $p)))) AS zero_crossings,
         |    CAST($n AS BIGINT) * $a * $a AS energy
         |  FROM documents
         |)
         |SELECT CAST(n_samples // 100 AS INT) AS len_bucket, count(*) AS n,
         |  CAST(sum(zero_crossings) AS BIGINT) AS sum_zc,
         |  CAST(sum(energy) AS BIGINT) AS sum_energy,
         |  CAST(max(peak) AS INT) AS max_peak
         |FROM m GROUP BY 1 ORDER BY 1""".stripMargin
    },

    "l16_winnowing" ->
      """WITH kg AS (
        |  SELECT doc_id,
        |    unnest(range(length(text) - 4)) AS pos,
        |    unnest(list_transform(range(length(text) - 4),
        |      i -> substr(md5(substr(text, i + 1, 5)), 1, 8))) AS h
        |  FROM documents WHERE length(text) >= 5
        |), win AS (
        |  SELECT doc_id, pos,
        |    min(h) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp,
        |    count(*) OVER (PARTITION BY doc_id) AS npos
        |  FROM kg
        |), fps AS (
        |  SELECT DISTINCT doc_id, fp FROM win WHERE pos + 4 <= npos
        |), shared AS (
        |  SELECT fp, count(*) AS docs FROM fps GROUP BY fp
        |)
        |SELECT CAST(count(*) AS BIGINT) AS n_fingerprints,
        |  CAST(count(CASE WHEN docs > 1 THEN 1 END) AS BIGINT) AS n_shared_fps,
        |  CAST(max(docs) AS BIGINT) AS max_docs_per_fp,
        |  CAST(sum(docs) AS BIGINT) AS n_doc_fps
        |FROM shared""".stripMargin,

    "l17_stratified_sample" -> {
      val docBucket =
        s"((${nib("md5(CAST(doc_id AS VARCHAR))", 1)} * 16 + " +
          s"${nib("md5(CAST(doc_id AS VARCHAR))", 2)}) * 256 + " +
          s"(${nib("md5(CAST(doc_id AS VARCHAR))", 3)} * 16 + " +
          s"${nib("md5(CAST(doc_id AS VARCHAR))", 4)})) % 100"
      s"""WITH rates AS (
         |  SELECT lang, 20 + (${nib("md5(lang)", 1)} % 8) * 10 AS pct
         |  FROM (SELECT DISTINCT lang FROM documents) t
         |), keyed AS (
         |  SELECT doc_id, lang, $docBucket AS bucket FROM documents
         |)
         |SELECT k.lang, CAST(max(r.pct) AS INT) AS pct,
         |  CAST(count(*) AS BIGINT) AS n_total,
         |  CAST(count(CASE WHEN k.bucket < r.pct THEN 1 END) AS BIGINT) AS n_sampled
         |FROM keyed k JOIN rates r ON k.lang = r.lang
         |GROUP BY k.lang ORDER BY k.lang""".stripMargin
    },

    "l18_repetition_quality" ->
      """WITH base AS (
        |  SELECT doc_id, source, len(string_split(text, ' ')) AS n_tok,
        |    len(list_distinct(string_split(text, ' '))) AS n_uniq
        |  FROM documents WHERE len(string_split(text, ' ')) >= 2
        |), bg AS (
        |  SELECT doc_id,
        |    unnest(list_transform(range(len(string_split(text, ' ')) - 1),
        |      i -> array_to_string((string_split(text, ' '))[i+1:i+2], ' '))) AS g
        |  FROM documents
        |), bgc AS (
        |  SELECT doc_id, g, count(*) AS c FROM bg GROUP BY doc_id, g
        |), topbg AS (
        |  SELECT doc_id, max(c) AS top_c, sum(c) AS n_bg FROM bgc GROUP BY doc_id
        |), scored AS (
        |  SELECT b.source, b.n_tok, b.n_uniq, t.top_c, t.n_bg,
        |    1.0 - CAST(b.n_uniq AS DOUBLE) / b.n_tok AS dup_frac,
        |    CAST(t.top_c AS DOUBLE) / t.n_bg AS top_bigram_frac
        |  FROM base b JOIN topbg t ON b.doc_id = t.doc_id
        |)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(count(CASE WHEN dup_frac > 0.8 OR top_bigram_frac > 0.1
        |    THEN 1 END) AS BIGINT) AS n_flagged,
        |  round(CAST(sum(n_tok - n_uniq) AS DOUBLE)
        |    / CAST(sum(n_tok) AS DOUBLE), 6) AS dup_tok_share,
        |  round(CAST(sum(top_c) AS DOUBLE)
        |    / CAST(sum(n_bg) AS DOUBLE), 6) AS top_bigram_share
        |FROM scored GROUP BY source ORDER BY source""".stripMargin,

    "l19_decontamination" ->
      """WITH ev AS (
        |  SELECT DISTINCT g FROM (
        |    SELECT unnest(list_distinct(
        |      list_transform(range(len(string_split(text, ' ')) - 2),
        |        i -> array_to_string((string_split(text, ' '))[i+1:i+3], ' ')))) AS g
        |    FROM documents WHERE source IN ('src0', 'src1')) t
        |), tr AS (
        |  SELECT doc_id, source,
        |    unnest(list_distinct(
        |      list_transform(range(len(string_split(text, ' ')) - 2),
        |        i -> array_to_string((string_split(text, ' '))[i+1:i+3], ' ')))) AS g
        |  FROM documents WHERE source NOT IN ('src0', 'src1')
        |), per_doc AS (
        |  SELECT tr.doc_id, tr.source, count(*) AS n_hit_grams
        |  FROM tr JOIN ev ON tr.g = ev.g
        |  GROUP BY tr.doc_id, tr.source
        |)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_contaminated_docs,
        |  CAST(sum(n_hit_grams) AS BIGINT) AS n_hit_grams,
        |  CAST(max(n_hit_grams) AS BIGINT) AS max_hit_grams
        |FROM per_doc GROUP BY source ORDER BY source""".stripMargin,

    "m03_video_frames" -> {
      // closed-form clip geometry: Spark renders/frames/decodes real
      // containers; the oracle recomputes from the integer definition
      val nf = s"(3 + ((${nib("md5(text)", 1)} * 16 + ${nib("md5(text)", 2)}) % 10))"
      val w = s"((${nib("md5(text)", 3)} % 8) + 2)"
      val h = s"((${nib("md5(text)", 4)} % 8) + 2)"
      s"""WITH m AS (
         |  SELECT doc_id, $nf AS nf, $w AS w, $h AS h FROM documents
         |), s AS (
         |  SELECT nf, w, h, (nf + 2) // 3 AS ns FROM m
         |)
         |SELECT CAST(nf AS INT) AS n_frames, count(*) AS n,
         |  CAST(sum(ns) AS BIGINT) AS sum_sampled,
         |  CAST(sum(ns * w * h) AS BIGINT) AS sum_pixels,
         |  CAST(sum(3 * (ns * (ns - 1) // 2)) AS BIGINT) AS sum_frame_ids
         |FROM s GROUP BY nf ORDER BY nf""".stripMargin
    },

    "l20_tfidf_terms" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
        |), tok2 AS (
        |  SELECT doc_id, w FROM tok WHERE w <> ''
        |), stats AS (
        |  SELECT w AS term, count(*) AS tf, count(DISTINCT doc_id) AS df
        |  FROM tok2 GROUP BY w
        |), n AS (SELECT count(*) AS n_docs FROM documents)
        |SELECT term, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
        |  round(tf * ln(CAST(n_docs AS DOUBLE) / df), 4) AS tfidf
        |FROM stats CROSS JOIN n
        |ORDER BY tfidf DESC, term
        |LIMIT 25""".stripMargin,

    "l21_pii_scan" -> {
      val email = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+[.][a-zA-Z]{2,}"
      val ssn = "[0-9]{3}-[0-9]{2}-[0-9]{4}"
      s"""WITH aug AS (
         |  SELECT doc_id, source,
         |    CASE
         |      WHEN doc_id % 7 = 0 THEN concat(text, ' contact user',
         |        CAST(doc_id AS VARCHAR), '@example.com now')
         |      WHEN doc_id % 11 = 0 THEN concat(text, ' id ',
         |        lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0'), '-45-6789 on file')
         |      ELSE text END AS text
         |  FROM documents
         |), scanned AS (
         |  SELECT source,
         |    len(regexp_extract_all(text, '$email')) AS n_email,
         |    len(regexp_extract_all(text, '$ssn')) AS n_ssn,
         |    length(text) - length(regexp_replace(text, '$email|$ssn', '[PII]', 'g'))
         |      AS chars_redacted
         |  FROM aug
         |)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(n_email) AS BIGINT) AS n_emails,
         |  CAST(sum(n_ssn) AS BIGINT) AS n_ssn,
         |  CAST(sum(chars_redacted) AS BIGINT) AS chars_redacted
         |FROM scanned GROUP BY source ORDER BY source""".stripMargin
    },

    // whichever arm the chooser picks, the answer must equal the EXACT
    // computation — one oracle covers both regimes by construction
    "l23_decontamination_auto" ->
      """WITH ev AS (
        |  SELECT DISTINCT g FROM (
        |    SELECT unnest(list_distinct(
        |      list_transform(range(len(string_split(text, ' ')) - 2),
        |        i -> array_to_string((string_split(text, ' '))[i+1:i+3], ' ')))) AS g
        |    FROM documents WHERE source IN ('src0', 'src1')) t
        |), tr AS (
        |  SELECT doc_id, source,
        |    unnest(list_distinct(
        |      list_transform(range(len(string_split(text, ' ')) - 2),
        |        i -> array_to_string((string_split(text, ' '))[i+1:i+3], ' ')))) AS g
        |  FROM documents WHERE source NOT IN ('src0', 'src1')
        |), per_doc AS (
        |  SELECT tr.doc_id, tr.source, count(*) AS n_hit_grams
        |  FROM tr JOIN ev ON tr.g = ev.g
        |  GROUP BY tr.doc_id, tr.source
        |)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_contaminated_docs,
        |  CAST(sum(n_hit_grams) AS BIGINT) AS n_hit_grams,
        |  CAST(max(n_hit_grams) AS BIGINT) AS max_hit_grams
        |FROM per_doc GROUP BY source ORDER BY source""".stripMargin,

    // the oracle is the EXACT computation with no bloom anywhere: the
    // prefilter+confirm pipeline must be indistinguishable from it
    "l22_bloom_decontamination" ->
      """WITH ev AS (
        |  SELECT DISTINCT g FROM (
        |    SELECT unnest(list_distinct(
        |      list_transform(range(len(string_split(text, ' ')) - 3),
        |        i -> array_to_string((string_split(text, ' '))[i+1:i+4], ' ')))) AS g
        |    FROM documents WHERE source IN ('src0', 'src1')) t
        |), tr AS (
        |  SELECT doc_id, source,
        |    unnest(list_distinct(
        |      list_transform(range(len(string_split(text, ' ')) - 3),
        |        i -> array_to_string((string_split(text, ' '))[i+1:i+4], ' ')))) AS g
        |  FROM documents WHERE source NOT IN ('src0', 'src1')
        |), per_doc AS (
        |  SELECT tr.doc_id, tr.source, count(*) AS n_hit_grams
        |  FROM tr JOIN ev ON tr.g = ev.g
        |  GROUP BY tr.doc_id, tr.source
        |)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_contaminated_docs,
        |  CAST(sum(n_hit_grams) AS BIGINT) AS n_hit_grams,
        |  CAST(max(n_hit_grams) AS BIGINT) AS max_hit_grams
        |FROM per_doc GROUP BY source ORDER BY source""".stripMargin
  )
}
