package graft.queries

import graft.queries.QueryDef.{Q, t}
import graft.operators._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-data pipeline operators (dedup / similarity / text analysis /
  * multimodal / streaming-shaped aggregation) exposed as driver-checkable
  * queries over `documents`, `embeddings`, and `events`.
  *
  * Hash-dependent operators (minhash, simhash, fingerprints) are built
  * on md5 so every pipeline stage is bit-identical in DuckDB — each
  * query's oracle SQL checks the actual near-dup math, not just row
  * counts.
  */
object ExtensionQueries {

  // Oracle SQL fragments. The strict vals must stay above `all`: an
  // oracle that reads one before it is initialised splices in "null".

  /** DuckDB re-implementation of [[graft.operators.Bpe]]'s learning
    * recurrence as chained CTEs: w0 = char-split vocab, then per round
    * (pair counts via zipped parallel unnest → deterministic argmax →
    * greedy left-to-right fold via list_reduce over a '|'-joined
    * accumulator — safe because the testdata alphabet is [a-y ];
    * the ENGINE uses real arrays and has no such restriction). The
    * per-round merge joins LEFT ... ON TRUE so an exhausted round
    * (empty m$i — no adjacent pair left anywhere) carries the vocab
    * through unchanged, mirroring Bpe.learn's early stop, instead of
    * emptying every later CTE. */
  // the alphabet guard fails LOUD (DuckDB error()) if any word ever
  // contains '|' or a backslash — the two characters that would
  // silently corrupt the '|'-joined fold accumulators below — or a
  // non-BMP codepoint (> U+FFFF), where the engine's char split
  // (UTF-16 code units) and DuckDB's string_split (codepoints) would
  // diverge on OOV words. The engine has no '|'/backslash restriction
  // (real arrays); the guard pins the ORACLE's validity envelope so
  // richer future testdata breaks the gate instead of producing a
  // bogus golden result.
  private val bpeOracleW0: String =
    """WITH w0 AS (SELECT CASE WHEN contains(w, '|') OR contains(w, chr(92))
      |                 OR regexp_matches(w, '[\x{10000}-\x{10FFFF}]')
      |            THEN error('bpe oracle: symbol contains |, backslash, or non-BMP char')
      |            ELSE w END AS w,
      |            CAST(count(*) AS BIGINT) AS freq,
      |            string_split(w, '') AS syms
      |     FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
      |     WHERE w <> '' GROUP BY w)""".stripMargin

  /** Round i's adjacent-pair counts `p<i>(lhs, rhs, cnt)` over the
    * previous vocab state `w<i-1>`, with its leading comma: the head of
    * every round in [[bpeOracleCtes]] and [[bpeBatchedOracle]]. */
  private def bpePairCountCte(i: Int): String =
    s""",
      | p$i AS (SELECT lhs, rhs, CAST(sum(freq) AS BIGINT) AS cnt FROM (
      |     SELECT freq, unnest(syms[1:len(syms)-1]) AS lhs,
      |            unnest(syms[2:len(syms)]) AS rhs
      |     FROM w${i - 1} WHERE len(syms) >= 2) GROUP BY lhs, rhs),""".stripMargin

  private def bpeOracleCtes(nRounds: Int): String = {
    val sb = new StringBuilder(bpeOracleW0)
    for (i <- 1 to nRounds) {
      val p = i - 1
      sb.append(bpePairCountCte(i))
      sb.append(s"""
        | m$i AS (SELECT lhs, rhs, cnt FROM p$i ORDER BY cnt DESC, lhs, rhs LIMIT 1),
        | w$i AS (SELECT w, freq,
        |     CASE WHEN m.lhs IS NULL OR len(syms) < 2 THEN syms
        |          ELSE string_split(list_reduce(syms, (acc, x) ->
        |       CASE WHEN regexp_extract(acc, '([^|]*)$$') = m.lhs AND x = m.rhs
        |            THEN regexp_replace(acc, '([^|]*)$$', m.lhs || m.rhs)
        |            ELSE acc || '|' || x END), '|') END AS syms
        |     FROM w$p LEFT JOIN m$i m ON TRUE)""".stripMargin)
    }
    sb.toString
  }

  /** Per-document BPE token POSITIONS with no ordered aggregation
    * anywhere — the driver-stable replacement for the r8/r10
    * assemble-then-resplit chain (`string_agg(… ORDER BY)` →
    * `string_split` → re-unnest), the construct whose within-group
    * order the driver's DuckDB scrambled two rounds running: every
    * word's symbol list (q187's tw ⋈ w6 join) unnests WITH its
    * ordinal, the `</s>` separator appends as a max-pos row, and the
    * within-doc token position is a ROW_NUMBER window over (pos, sub)
    * — windows, unlike in-aggregate ORDER BY, are version-stable.
    * Assumes `bpeOracleCtes(6)` precedes (defines w6). Emits
    * tp(doc_id, tok, dpos) and dl(doc_id, len). */
  private val tokPosCtes: String =
    """,
      | tw AS (SELECT doc_id, t.pos AS pos, t.w AS w FROM (
      |     SELECT doc_id, unnest(list_transform(range(1, len(s) + 1),
      |            i -> struct_pack(pos := i, w := s[i]))) AS t
      |     FROM (SELECT doc_id, string_split(text, ' ') AS s FROM documents))),
      | sy AS (SELECT tw.doc_id, tw.pos,
      |               coalesce(v.syms, string_split(tw.w, '')) AS syms
      |        FROM tw LEFT JOIN w6 v ON v.w = tw.w
      |        WHERE tw.w <> ''),
      | tt AS (SELECT doc_id, pos, t.sub AS sub, t.tok AS tok FROM (
      |        SELECT doc_id, pos, unnest(list_transform(range(1, len(syms) + 1),
      |               i -> struct_pack(sub := i, tok := syms[i]))) AS t
      |        FROM sy)
      |        UNION ALL
      |        SELECT DISTINCT doc_id, 2147483647 AS pos, 1 AS sub, '</s>' AS tok
      |        FROM sy),
      | tp AS (SELECT doc_id, tok,
      |               ROW_NUMBER() OVER (PARTITION BY doc_id
      |                                  ORDER BY pos, sub) - 1 AS dpos
      |        FROM tt),
      | dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS len
      |        FROM tt GROUP BY doc_id)""".stripMargin

  /** [[tokPosCtes]] under the 6-merge vocabulary, plus each document's
    * exclusive offset `o(doc_id, off)` in the doc_id-ordered corpus
    * token stream (q190, q194). */
  private val tokOffsetCtes: String =
    bpeOracleCtes(6) + tokPosCtes + """,
        | o AS (SELECT doc_id,
        |          CAST(coalesce(sum(len) OVER (ORDER BY doc_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |            0) AS BIGINT) AS off
        |       FROM dl)""".stripMargin

  /** DuckDB replay of [[graft.operators.Bpe.learnBatched]]'s batched
    * recurrence: per round, rank the pair counts, keep the top `pool`,
    * disqualify candidates sharing a symbol with ANY higher-ranked pool
    * candidate (one anti-join — the rule is a per-candidate predicate,
    * which is exactly why learnBatched uses rank-prefix conflict
    * instead of accepted-set greedy), accept the first `batch`
    * survivors, and apply them in rank order as `batch` chained
    * '|'-joined folds (a NULL rule slot is an identity pass-through, so
    * the CTE chain stays static while the accepted count is
    * data-dependent). Merge application appends x straight onto the
    * accumulator (last symbol l, incoming x=r ⇒ last becomes l||r) — no
    * regex replacement, so only the w0 alphabet guard is load-bearing. */
  private def bpeBatchedOracle(nRounds: Int, batch: Int, pool: Int): String = {
    val sb = new StringBuilder(bpeOracleW0)
    for (i <- 1 to nRounds) {
      val p = i - 1
      sb.append(bpePairCountCte(i))
      sb.append(s"""
        | c$i AS (SELECT lhs, rhs, cnt,
        |     ROW_NUMBER() OVER (ORDER BY cnt DESC, lhs, rhs) AS rnk
        |     FROM (SELECT * FROM p$i ORDER BY cnt DESC, lhs, rhs LIMIT $pool)),
        | a$i AS (SELECT lhs, rhs, cnt, rnk,
        |     ROW_NUMBER() OVER (ORDER BY rnk) AS arnk
        |     FROM c$i c
        |     WHERE NOT EXISTS (SELECT 1 FROM c$i h WHERE h.rnk < c.rnk AND (
        |           c.lhs IN (h.lhs, h.rhs, h.lhs || h.rhs) OR
        |           c.rhs IN (h.lhs, h.rhs, h.lhs || h.rhs) OR
        |           (c.lhs || c.rhs) IN (h.lhs, h.rhs)))
        |     QUALIFY arnk <= $batch),
        | b$i AS (SELECT""".stripMargin)
      sb.append((1 to batch).map(j =>
        s"""
        |     max(CASE WHEN arnk = $j THEN lhs END) AS l$j,
        |     max(CASE WHEN arnk = $j THEN rhs END) AS r$j""".stripMargin)
        .mkString(","))
      sb.append(s"""
        |     FROM a$i),""".stripMargin)
      // chained folds: slot j applies (l_j, r_j) or passes through on NULL
      val fold = (1 to batch).foldLeft("array_to_string(syms, '|')") {
        (s0, j) =>
          s"""CASE WHEN l$j IS NULL THEN $s0
             | ELSE list_reduce(string_split($s0, '|'), (acc, x) ->
             |   CASE WHEN regexp_extract(acc, '([^|]*)$$') = l$j AND x = r$j
             |        THEN acc || x ELSE acc || '|' || x END) END""".stripMargin
      }
      sb.append(s"""
        | w$i AS (SELECT w, freq, string_split($fold, '|') AS syms
        |     FROM w$p, b$i)""".stripMargin)
    }
    sb.append(s"""
      | SELECT CAST(ROW_NUMBER() OVER (ORDER BY rnd, arnk) AS BIGINT) AS rank,
      |        lhs, rhs, cnt AS pair_count
      | FROM (""".stripMargin)
    sb.append((1 to nRounds).map(i =>
      s"SELECT $i AS rnd, arnk, lhs, rhs, cnt FROM a$i")
      .mkString("\n UNION ALL "))
    sb.append(")")
    sb.toString
  }

  /** DuckDB replay of [[graft.operators.MinHashLsh]]'s sketch: 3-word
    * shingles `sh`, 8 md5 minhashes per doc `sig`, and 4 bands of 2
    * rows `band`. The band CTE is left open so a query closes it with
    * or without a bucket cap (q44 and [[minhashPairCtes]]). */
  private val minhashBands: String =
    """sh AS (
           SELECT doc_id,
                  unnest(list_transform(range(1, len(s) - 1),
                         i -> s[i] || ' ' || s[i+1] || ' ' || s[i+2])) AS sh
           FROM (SELECT doc_id, string_split(text, ' ') AS s FROM documents)),
         sig AS (
           SELECT doc_id, j, min(md5(CAST(j AS VARCHAR) || ':' || sh)) AS mh
           FROM sh, (SELECT unnest(range(0, 8)) AS j) GROUP BY doc_id, j),
         band AS (
           SELECT doc_id, j // 2 AS band,
                  md5(string_agg(mh, '|' ORDER BY j)) AS bucket
           FROM sig GROUP BY doc_id, j // 2"""

  /** [[minhashBands]] closed with the 1000-doc bucket cap, then q26's
    * candidate pairs `cand`, distinct shingles `shd`, pair overlaps
    * `inter` and shingle-set sizes `sz` (q26, q119, q135 and
    * [[minhashComponentCtes]]). */
  private val minhashPairCtes: String =
    s"""$minhashBands
           QUALIFY count(*) OVER (PARTITION BY j // 2, md5(string_agg(mh, '|' ORDER BY j))) <= 1000),
         cand AS (
           SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
           FROM band a JOIN band b
             ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
         shd AS (SELECT DISTINCT doc_id, sh FROM sh),
         inter AS (
           SELECT c.doc_a, c.doc_b, count(*) AS i
           FROM cand c
           JOIN shd x ON x.doc_id = c.doc_a
           JOIN shd y ON y.doc_id = c.doc_b AND x.sh = y.sh
           GROUP BY c.doc_a, c.doc_b),
         sz AS (SELECT doc_id, count(*) AS n FROM shd GROUP BY doc_id)"""

  /** [[minhashPairCtes]] closed transitively: `pairs` (Jaccard >= 0.2),
    * symmetric `edges`, and the recursive `reach(doc_id, r)` whose
    * min r per doc is its near-dup group (q35's recurrence; needs
    * `WITH RECURSIVE`; q35, q42, q76, q145). */
  private val minhashComponentCtes: String =
    s"""$minhashPairCtes,
         pairs AS (
           SELECT doc_a, doc_b FROM inter
           JOIN sz sa ON sa.doc_id = doc_a
           JOIN sz sb ON sb.doc_id = doc_b
           WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.2),
         edges AS (
           SELECT doc_a AS src, doc_b AS dst FROM pairs
           UNION ALL
           SELECT doc_b AS src, doc_a AS dst FROM pairs),
         reach(doc_id, r) AS (
           SELECT DISTINCT src, src FROM edges
           UNION
           SELECT e.src, reach.r FROM edges e JOIN reach ON reach.doc_id = e.dst)"""

  /** [[graft.operators.Similarity.centroids]] replayed: per label, the
    * mean of each of the 64 embedding components (q153, q163, q185 and
    * [[embeddingCentroidCtes]]). */
  private val centroidCte: String =
    """cent AS (
           SELECT label, list(cx ORDER BY j) AS centroid
           FROM (SELECT label, j, avg(v[CAST(j AS INT)]) AS cx
                 FROM e, (SELECT unnest(range(1, 65)) AS j)
                 GROUP BY label, j)
           GROUP BY label)"""

  /** Labelled embeddings `e(label, vec_id, v)` and their [[centroidCte]]
    * (q53, q92, q164, q169, [[ivfTop10Oracle]] and [[semdedupOracle]]). */
  private val embeddingCentroidCtes: String =
    s"""e AS (SELECT label, vec_id, CAST(embedding AS DOUBLE[]) AS v
                    FROM embeddings),
         $centroidCte"""

  /** q30's probe routing: each query in `q(q_id, qv)` ranks the
    * centroids by cosine and keeps the clusters whose rank passes
    * `prnFilter` (q153 and [[ivfTop10Oracle]]). */
  private def ivfProbesCte(prnFilter: String): String =
    s"""probes AS (
           SELECT q_id, qv, label AS probe_label FROM (
             SELECT q.q_id, q.qv, c.label,
                    ROW_NUMBER() OVER (PARTITION BY q.q_id
                      ORDER BY round(list_cosine_similarity(q.qv, c.centroid), 6) DESC,
                               c.label) AS prn
             FROM q, cent c)
           WHERE prn $prnFilter)"""

  /** q30's IVF top-10 for query vectors id < 5: labelled embeddings,
    * their centroids, the probed clusters (`prnFilter` picks how many by
    * probe rank) and a cosine top-10 inside them (q30, q30b). */
  private def ivfTop10Oracle(prnFilter: String): String =
    s"""WITH $embeddingCentroidCtes,
         q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 5),
         ${ivfProbesCte(prnFilter)},
         s AS (SELECT p.q_id, p.probe_label, e.vec_id,
                      round(list_cosine_similarity(p.qv, e.v), 6) AS sim
               FROM probes p JOIN e ON e.label = p.probe_label)
         SELECT q_id, probe_label, vec_id, sim, rank FROM (
           SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
                     ORDER BY sim DESC, vec_id) AS rank FROM s)
         WHERE rank <= 10"""

  /** Nearest-centroid assignment `a(vec_id, cluster, v)` over `e` and
    * `cent`, ties to the smaller label (q163, q164 and
    * [[semdedupOracle]]). */
  private val semdedupAssignCte: String =
    """a AS (SELECT vec_id, cluster, v FROM (
                 SELECT e.vec_id, c.label AS cluster, e.v,
                        ROW_NUMBER() OVER (PARTITION BY e.vec_id
                          ORDER BY round(list_cosine_similarity(e.v, c.centroid), 6) DESC,
                                   c.label) AS rn
                 FROM e, cent c)
               WHERE rn = 1)"""

  /** SemDeDup's prune: every vector in `a(vec_id, cluster, v)` with a
    * smaller-id cluster mate at cosine >= 0.3 (q163 and
    * [[semdedupKeptSelect]]). */
  private val semdedupDupCte: String =
    """dup AS (SELECT DISTINCT y.vec_id
                 FROM a x JOIN a y ON x.cluster = y.cluster AND x.vec_id < y.vec_id
                 WHERE round(list_cosine_similarity(x.v, y.v), 6) >= 0.3)"""

  /** [[semdedupDupCte]] and the final keep flag over `a` (q176 and
    * [[semdedupOracle]]). */
  private val semdedupKeptSelect: String =
    s"""$semdedupDupCte
         SELECT a.vec_id, a.cluster,
                a.vec_id NOT IN (SELECT vec_id FROM dup) AS kept
         FROM a"""

  /** SemDeDup over the given labels: nearest-centroid clusters, then the
    * within-cluster cosine >= 0.3 prune to the smallest id (q160, q165). */
  private val semdedupOracle: String =
    s"""WITH $embeddingCentroidCtes,
         $semdedupAssignCte,
         $semdedupKeptSelect"""

  /** [[graft.operators.Clustering.kmeans]] (k = 4, iters = 2) replayed:
    * farthest-point seeds s1..s4 as `cent0`, one E-step `a1`, the
    * 6-dp-rounded M-step `m1`, and the learned centroids
    * `cent1(cluster, c)` (q171, q175, q176). */
  private val kmeansCentroidCtes: String =
    """e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         s1 AS (SELECT list_transform(v, x -> round(x, 6)) AS c
                FROM e ORDER BY vec_id LIMIT 1),
         d2 AS (SELECT e.vec_id, e.v,
                       round(list_cosine_similarity(e.v, s1.c), 6) + 0.0 AS mx
                FROM e, s1),
         s2 AS (SELECT list_transform(v, x -> round(x, 6)) AS c
                FROM d2 ORDER BY mx, vec_id LIMIT 1),
         d3 AS (SELECT d2.vec_id, d2.v,
                       greatest(d2.mx,
                         round(list_cosine_similarity(d2.v, s2.c), 6) + 0.0) AS mx
                FROM d2, s2),
         s3 AS (SELECT list_transform(v, x -> round(x, 6)) AS c
                FROM d3 ORDER BY mx, vec_id LIMIT 1),
         d4 AS (SELECT d3.vec_id, d3.v,
                       greatest(d3.mx,
                         round(list_cosine_similarity(d3.v, s3.c), 6) + 0.0) AS mx
                FROM d3, s3),
         s4 AS (SELECT list_transform(v, x -> round(x, 6)) AS c
                FROM d4 ORDER BY mx, vec_id LIMIT 1),
         cent0 AS (SELECT CAST(0 AS BIGINT) AS cluster, c FROM s1
                   UNION ALL SELECT 1, c FROM s2
                   UNION ALL SELECT 2, c FROM s3
                   UNION ALL SELECT 3, c FROM s4),
         a1 AS (SELECT vec_id, cluster FROM (
                  SELECT e.vec_id, c0.cluster,
                         ROW_NUMBER() OVER (PARTITION BY e.vec_id
                           ORDER BY round(list_cosine_similarity(e.v, c0.c), 6) + 0.0
                                      DESC,
                                    c0.cluster) AS rn
                  FROM e, cent0 c0)
                WHERE rn = 1),
         m1 AS (SELECT cluster, list(cx ORDER BY j) AS c FROM (
                  SELECT a1.cluster, j,
                         round(avg(e.v[CAST(j AS INT)]), 6) AS cx
                  FROM a1 JOIN e USING (vec_id),
                       (SELECT unnest(range(1, 65)) AS j)
                  GROUP BY a1.cluster, j)
                GROUP BY cluster),
         cent1 AS (SELECT c0.cluster, coalesce(m1.c, c0.c) AS c
                   FROM cent0 c0 LEFT JOIN m1 ON c0.cluster = m1.cluster)"""

  /** [[graft.operators.Projection.rpProject]] replayed sign for sign:
    * the md5 'rp:m:j' Rademacher matrix `rp` and every vector's
    * 16-component sketch `p(vec_id, pv)` (q172, q174). */
  private val rpSketchCtes: String =
    """e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         rp AS (SELECT m, j,
                       CASE WHEN substr(md5('rp:' || CAST(m AS VARCHAR) || ':'
                                            || CAST(j AS VARCHAR)), 1, 1)
                            IN ('0','2','4','6','8','a','c','e')
                            THEN 1.0 ELSE -1.0 END AS c
                FROM (SELECT unnest(range(0, 16)) AS m),
                     (SELECT unnest(range(1, 65)) AS j)),
         p AS (SELECT vec_id, list(pm ORDER BY m) AS pv FROM (
                 SELECT vec_id, m,
                        round(sum(c * v[CAST(j AS INT)]) / 4.0, 6) AS pm
                 FROM e, rp GROUP BY vec_id, m)
               GROUP BY vec_id)"""

  /** Sketch-space neighbours of each `qp(q_id, qpv)` query, ranked by
    * cosine (ties to the smaller id) as `rank` (q172, q174). */
  private val rpNeighbourRanks: String =
    """SELECT qp.q_id, p.vec_id,
                         ROW_NUMBER() OVER (PARTITION BY qp.q_id
                           ORDER BY round(list_cosine_similarity(qp.qpv, p.pv), 6)
                                      DESC,
                                    p.vec_id) AS rank
                  FROM qp, p)"""

  /** Exact full-space top-10 `b(q_id, vec_id)` of the query vectors
    * id < 20, the denominator of the recall audits (q172, q173). */
  private val exactTop10Ctes: String =
    """qf AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 20),
         b AS (SELECT q_id, vec_id FROM (
                 SELECT qf.q_id, e.vec_id,
                        ROW_NUMBER() OVER (PARTITION BY qf.q_id
                          ORDER BY round(list_cosine_similarity(qf.qv, e.v), 6) DESC,
                                   e.vec_id) AS rank
                 FROM qf, e)
               WHERE rank <= 10)"""

  /** [[graft.operators.Projection]]'s PQ encoding replayed over the
    * unit vectors `u(vec_id, vn)`: 4 subspaces x 4 md5 sign planes `hp`,
    * per-vector `codes`, 6-dp codebook means `cb`, and the query
    * subvectors `qsub` of ids < 20 (q173, q185). */
  private val pqCodebookCtes: String =
    """hp AS (SELECT sub, h, j,
                       CASE WHEN substr(md5('pq:' || CAST(sub AS VARCHAR) || ':'
                                             || CAST(h AS VARCHAR) || ':'
                                             || CAST(j AS VARCHAR)), 1, 1)
                            IN ('0','2','4','6','8','a','c','e')
                            THEN 1.0 ELSE -1.0 END AS c
                FROM (SELECT unnest(range(0, 4)) AS sub),
                     (SELECT unnest(range(0, 4)) AS h),
                     (SELECT unnest(range(1, 17)) AS j)),
         bits AS (SELECT vec_id, sub, h,
                         CASE WHEN round(sum(c * vn[CAST(sub * 16 + j AS INT)]), 6) > 0
                              THEN 1 ELSE 0 END AS bit
                  FROM u, hp GROUP BY vec_id, sub, h),
         codes AS (SELECT vec_id, sub,
                          CAST(sum(bit * (CAST(1 AS BIGINT) << CAST(h AS INT)))
                               AS BIGINT) AS code
                   FROM bits GROUP BY vec_id, sub),
         cb AS (SELECT sub, code, list(cx ORDER BY j2) AS cbv FROM (
                  SELECT codes.sub, codes.code, j2,
                         round(avg(u.vn[CAST(codes.sub * 16 + j2 AS INT)]), 6) AS cx
                  FROM codes JOIN u USING (vec_id),
                       (SELECT unnest(range(1, 17)) AS j2)
                  GROUP BY codes.sub, codes.code, j2)
                GROUP BY sub, code),
         qsub AS (SELECT vec_id AS q_id, sub,
                         list_slice(vn, sub * 16 + 1, sub * 16 + 16) AS qv
                  FROM u, (SELECT unnest(range(0, 4)) AS sub)
                  WHERE vec_id < 20)"""

  /** q50's BM25 (k1 = 1.2, b = 0.75) over `toks(doc_id, term)` for the
    * terms spark, merge and window: the top-20 `bm(doc_id, score)`
    * ([[bm25RankCtes]], [[bruteHybridTop10Ctes]]). */
  private val bm25TopCtes: String =
    """dl AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS DOUBLE) AS dl
        |        FROM documents),
        | stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl FROM dl),
        | tf AS (SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf
        |        FROM toks WHERE term IN ('spark', 'merge', 'window')
        |        GROUP BY doc_id, term),
        | dft AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY term),
        | scored AS (
        |   SELECT tf.doc_id,
        |          round(ln(1 + (n_docs - df + 0.5) / (df + 0.5))
        |                * tf * 2.2
        |                / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl)), 6) AS term_score
        |   FROM tf JOIN dft USING (term) JOIN dl USING (doc_id), stats),
        | bm AS (SELECT doc_id, round(sum(term_score), 4) AS score
        |        FROM scored GROUP BY doc_id
        |        ORDER BY score DESC, doc_id LIMIT 20)""".stripMargin

  /** q200's BM25 leg: [[bm25TopCtes]] over the tokens `toks`, ranked
    * as `br(doc_id, bm25_rank)` (q200, q203, [[hybridRecallOracle]]). */
  private val bm25RankCtes: String =
    s"""toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |              FROM documents),
        | $bm25TopCtes,
        | br AS (SELECT doc_id,
        |          CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS BIGINT)
        |            AS bm25_rank
        |        FROM bm)""".stripMargin

  /** Reciprocal-rank fusion 1/(60 + rank) of `br` and `cr`, top 10
    * (q200, q203). */
  private val rrfTop10Select: String =
    """SELECT coalesce(br.doc_id, cr.doc_id) AS doc_id, bm25_rank, cos_rank,
        |       round(coalesce(1.0 / (60 + bm25_rank), 0)
        |           + coalesce(1.0 / (60 + cos_rank), 0), 6) AS rrf
        |FROM br FULL OUTER JOIN cr ON br.doc_id = cr.doc_id
        |ORDER BY rrf DESC, doc_id LIMIT 10""".stripMargin

  /** [[centroidCte]] in the stripMargin layout of the hybrid oracles
    * (q203, [[hybridRecallOracle]]). */
  private val hybridCentroidCte: String =
    """cent AS (
        |   SELECT label, list(cx ORDER BY j) AS centroid
        |   FROM (SELECT label, j, avg(v[CAST(j AS INT)]) AS cx
        |         FROM e, (SELECT unnest(range(1, 65)) AS j)
        |         GROUP BY label, j)
        |   GROUP BY label)""".stripMargin

  /** q30's probe routing in the hybrid layout: the query `q(q_id, qv)`
    * keeps its `nprobe` nearest clusters of `cent` (q203,
    * [[hybridRecallOracle]]). */
  private def hybridProbesCte(nprobe: Int): String =
    s"""probes AS (
        |   SELECT q_id, qv, label AS probe_label FROM (
        |     SELECT q.q_id, q.qv, c.label,
        |            ROW_NUMBER() OVER (PARTITION BY q.q_id
        |              ORDER BY round(list_cosine_similarity(q.qv, c.centroid), 6) DESC,
        |                       c.label) AS prn
        |     FROM q, cent c)
        |   WHERE prn <= $nprobe)""".stripMargin

  /** The sqrt(N)-k-means IVF index replayed: modular seeds `cent0`, one
    * Lloyd round (`a1`, `m1`, `cent1`), the final assignment `asg`,
    * cluster sizes `csize`, cluster count `kc` and query vector 0 as
    * `q` (q216, q217). */
  private val sqrtKmeansIvfCtes: String =
    """e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        | st AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |               CAST(ceil(sqrt(count(*))) AS BIGINT) AS step FROM e),
        | cent0 AS (SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cluster,
        |                  list_transform(v, x -> round(x, 6)) AS c
        |           FROM e, st WHERE vec_id % st.step = 0),
        | a1 AS (SELECT vec_id, cluster FROM (
        |          SELECT e.vec_id, c0.cluster,
        |                 ROW_NUMBER() OVER (PARTITION BY e.vec_id
        |                   ORDER BY round(list_cosine_similarity(e.v, c0.c), 6) + 0.0 DESC,
        |                            c0.cluster) AS rn
        |          FROM e, cent0 c0)
        |        WHERE rn = 1),
        | m1 AS (SELECT cluster, list(cx ORDER BY j) AS c FROM (
        |          SELECT a1.cluster, j, round(avg(e.v[CAST(j AS INT)]), 6) AS cx
        |          FROM a1 JOIN e USING (vec_id), (SELECT unnest(range(1, 65)) AS j)
        |          GROUP BY a1.cluster, j)
        |        GROUP BY cluster),
        | cent1 AS (SELECT c0.cluster, coalesce(m1.c, c0.c) AS c
        |           FROM cent0 c0 LEFT JOIN m1 ON c0.cluster = m1.cluster),
        | asg AS (SELECT vec_id, cluster FROM (
        |          SELECT e.vec_id, c1.cluster,
        |                 ROW_NUMBER() OVER (PARTITION BY e.vec_id
        |                   ORDER BY round(list_cosine_similarity(e.v, c1.c), 6) + 0.0 DESC,
        |                            c1.cluster) AS rn
        |          FROM e, cent1 c1)
        |        WHERE rn = 1),
        | csize AS (SELECT cluster, CAST(count(*) AS BIGINT) AS sz FROM asg GROUP BY cluster),
        | kc AS (SELECT CAST(count(*) AS BIGINT) AS k FROM cent1),
        | q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id = 0)""".stripMargin

  /** The brute-leg hybrid the IVF audits score against: BM25 rank `br`,
    * brute cosine rank `crb` for `q`, and their RRF top-10
    * `fbx(doc_id)` (q216, q217). */
  private val bruteHybridTop10Ctes: String =
    s"""toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |          FROM documents),
        | $bm25TopCtes,
        | br AS (SELECT doc_id,
        |          CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS bm25_rank
        |        FROM bm),
        | sb AS (SELECT e.vec_id, round(list_cosine_similarity(q.qv, e.v), 6) AS sim
        |        FROM e, q),
        | crb AS (SELECT vec_id AS doc_id, CAST(rn AS BIGINT) AS cos_rank FROM (
        |           SELECT vec_id, ROW_NUMBER() OVER (ORDER BY sim DESC, vec_id) AS rn
        |           FROM sb)
        |         WHERE rn <= 20),
        | fbx AS (SELECT coalesce(br.doc_id, crb.doc_id) AS doc_id
        |        FROM br FULL OUTER JOIN crb ON br.doc_id = crb.doc_id
        |        ORDER BY round(coalesce(1.0 / (60 + bm25_rank), 0)
        |                     + coalesce(1.0 / (60 + cos_rank), 0), 6) DESC,
        |                 coalesce(br.doc_id, crb.doc_id) LIMIT 10)""".stripMargin

  /** [[graft.operators.TextOps.langId]]'s stopword-lexicon decision:
    * zh on any non-ASCII char, unknown on no hits, else the language
    * with the most hits, ties in en, de, es, fr order (q22, q125). */
  private val langIdCase: String =
    """CASE WHEN length(regexp_replace(text, '[ -~]', '', 'g')) > 0 THEN 'zh'
                     WHEN len(regexp_extract_all(text, '\b(the|a|of|and|is)\b')) = 0
                          AND len(regexp_extract_all(text, '\b(der|die|das|und|ist)\b')) = 0
                          AND len(regexp_extract_all(text, '\b(el|los|una|y|es)\b')) = 0
                          AND len(regexp_extract_all(text, '\b(le|la|et|les|des)\b')) = 0 THEN 'unknown'
                     WHEN len(regexp_extract_all(text, '\b(the|a|of|and|is)\b')) >= len(regexp_extract_all(text, '\b(der|die|das|und|ist)\b'))
                          AND len(regexp_extract_all(text, '\b(the|a|of|and|is)\b')) >= len(regexp_extract_all(text, '\b(el|los|una|y|es)\b'))
                          AND len(regexp_extract_all(text, '\b(the|a|of|and|is)\b')) >= len(regexp_extract_all(text, '\b(le|la|et|les|des)\b')) THEN 'en'
                     WHEN len(regexp_extract_all(text, '\b(der|die|das|und|ist)\b')) >= len(regexp_extract_all(text, '\b(el|los|una|y|es)\b'))
                          AND len(regexp_extract_all(text, '\b(der|die|das|und|ist)\b')) >= len(regexp_extract_all(text, '\b(le|la|et|les|des)\b')) THEN 'de'
                     WHEN len(regexp_extract_all(text, '\b(el|los|una|y|es)\b')) >= len(regexp_extract_all(text, '\b(le|la|et|les|des)\b')) THEN 'es'
                     ELSE 'fr' END AS pred_lang"""

  /** q21's composite quality score in basis points: length, stopword
    * density and punctuation terms weighted 0.5 / 0.3 / 0.2 (q42, q76,
    * q135, q162, q163). */
  private val qualityScoreBp: String =
    """CAST(floor((least(CAST(len(string_split(text, ' ')) AS DOUBLE) / 100, 1.0) * 0.5
                        + least(CAST(len(regexp_extract_all(text, '\b(the|a|of|and|is|to|in)\b')) AS DOUBLE)
                                / len(string_split(text, ' ')) * 10, 1.0) * 0.3
                        + (1.0 - least(CAST(len(regexp_extract_all(text, '([.,!?;:''"()\[\]{}-])', 1)) AS DOUBLE)
                                       / length(text) * 20, 1.0)) * 0.2) * 10000) AS BIGINT)"""

  /** Word-6-gram shingles `sh(doc_id, sh)` (q85, q123). */
  private val word6ShingleCte: String =
    """sh AS (
           SELECT doc_id,
                  unnest(list_transform(range(1, len(s) - 4),
                         i -> s[i] || ' ' || s[i+1] || ' ' || s[i+2] || ' ' || s[i+3]
                           || ' ' || s[i+4] || ' ' || s[i+5])) AS sh
           FROM (SELECT doc_id, string_split(text, ' ') AS s FROM documents))"""

  /** Each document's distinct word-8-grams `g(doc_id, gram)` (q52,
    * q154). */
  private val word8GramCte: String =
    """g AS (
           SELECT doc_id,
                  unnest(list_distinct(list_transform(range(1, len(s) - 6),
                         i -> s[i] || ' ' || s[i+1] || ' ' || s[i+2] || ' ' || s[i+3]
                              || ' ' || s[i+4] || ' ' || s[i+5] || ' ' || s[i+6]
                              || ' ' || s[i+7]))) AS gram
           FROM (SELECT doc_id, string_split(text, ' ') AS s FROM documents))"""

  /** Distinct char-4-grams `g` blocked by (lang, source), their counts
    * `sz` and the shared-gram count `inter(doc_a, doc_b, i)` per pair
    * (q34, q69). */
  private val char4GramOverlapCtes: String =
    """g AS (
           SELECT DISTINCT doc_id, lang, source,
                  unnest(list_transform(range(1, length(text) - 2),
                         i -> substr(text, i, 4))) AS gram
           FROM documents),
         sz AS (SELECT doc_id, count(*) AS n FROM g GROUP BY doc_id),
         inter AS (
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
           FROM g a JOIN g b
             ON a.lang = b.lang AND a.source = b.source
            AND a.gram = b.gram AND a.doc_id < b.doc_id
           GROUP BY 1, 2)"""

  /** [[graft.operators.TextOps.gopherRules]]' inputs: word count, mean
    * word length and distinct stopword forms `base`, and the top word
    * frequency `wf` (q51, q122). */
  private val gopherBaseCtes: String =
    """base AS (
           SELECT doc_id,
                  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
                  CAST(floor(CAST(length(text) - (len(string_split(text, ' ')) - 1) AS DOUBLE)
                        / len(string_split(text, ' ')) * 10000) AS BIGINT) AS avg_word_len_bp,
                  CAST(len(list_distinct(regexp_extract_all(text, '\b(the|a|of|and|is|to|in)\b'))) AS BIGINT) AS n_stop_forms
           FROM documents),
         wf AS (SELECT doc_id, max(c) AS max_tf
                FROM (SELECT doc_id, w, count(*) AS c
                      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
                            FROM documents)
                      GROUP BY doc_id, w)
                GROUP BY doc_id)"""

  /** Per-source available tokens `av`, the source weight
    * `w` = (digits of source) % 4 + 1, and the token total `tot`
    * (q221, q222). */
  private val mixtureSourceCtes: String =
    """av AS (SELECT source,
        |              CAST(sum(len(regexp_extract_all(text,
        |                '([A-Za-z]+|[0-9]+|[^A-Za-z0-9 ])', 1))) AS BIGINT)
        |                AS n_tokens_avail
        |            FROM documents GROUP BY 1),
        | w AS (SELECT source,
        |              CAST(regexp_extract(source, '([0-9]+)', 1) AS BIGINT) % 4 + 1
        |                AS weight
        |       FROM (SELECT DISTINCT source FROM documents)),
        | tot AS (SELECT CAST(sum(n_tokens_avail) AS BIGINT) AS t FROM av)""".stripMargin

  /** The embedding near-dup graph: labelled embeddings `e` and their
    * same-label pairs at cosine >= 0.25 as edges `ed(a, b)`, a < b
    * (q155, q156, q157, q159). */
  private val nearDupEdgeCtes: String =
    """e AS (SELECT label, vec_id, CAST(embedding AS DOUBLE[]) AS v
                    FROM embeddings),
         ed AS (SELECT a.vec_id AS a, b.vec_id AS b
                FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
                WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.25)"""

  /** The lineitem part-supplier graph: distinct part-supplier `pairs`
    * and both directions as `edges(src, dst)` (q87, q97, q102). */
  private val bipartiteEdgeCtes: String =
    """pairs AS (
           SELECT DISTINCT 'p' || CAST(l_partkey AS VARCHAR) AS a,
                           's' || CAST(l_suppkey AS VARCHAR) AS b
           FROM lineitem),
         edges AS (SELECT a AS src, b AS dst FROM pairs
                   UNION ALL SELECT b, a FROM pairs)"""

  /** The lineitem graph directed part -> supplier: `edges`, every
    * endpoint as `nodes` and their count `nn` (q152, q158). */
  private val partSupplierNodeCtes: String =
    """edges AS (
           SELECT DISTINCT 'p' || CAST(l_partkey AS VARCHAR) AS src,
                           's' || CAST(l_suppkey AS VARCHAR) AS dst
           FROM lineitem),
         nodes AS (SELECT DISTINCT node FROM
                   (SELECT src AS node FROM edges
                    UNION ALL SELECT dst FROM edges)),
         nn AS (SELECT count(*) AS n FROM nodes)"""

  /** The SQL side of [[recallAt10]]: per query, the exact top-10 `b`
    * left-joined with the approximate top-10 CTE named `hits`, recall
    * in basis points (q153, q172, q173, q185). */
  private def recallSelect(hits: String): String =
    s"""SELECT b.q_id, CAST(count(*) AS BIGINT) AS n_brute,
                CAST(sum(CASE WHEN $hits.vec_id IS NULL THEN 0 ELSE 1 END)
                     AS BIGINT) AS n_hits,
                CAST((CAST(sum(CASE WHEN $hits.vec_id IS NULL THEN 0 ELSE 1 END)
                           AS BIGINT) * 10000) // count(*) AS BIGINT)
                  AS recall_bp
         FROM b LEFT JOIN $hits ON $hits.q_id = b.q_id AND $hits.vec_id = b.vec_id
         GROUP BY b.q_id"""

  /** Recall@10 of an approximate top-10 per query vector id < 20, in
    * basis points: the exact top-10 (the denominator) left-joined with
    * `approx(queries, embeddings)` (q153, q172, q173, q185). */
  private def recallAt10(s: SparkSession, dir: String)(
      approx: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    val e = t(s, dir, "embeddings")
    val q = e.filter(col("vec_id") < 20)
    val brute = Similarity.bruteForceTopK(q, e, k = 10)
      .select(col("q_id"), col("vec_id"))
    val hits = approx(q, e)
      .select(col("q_id"), col("vec_id"), lit(1L).as("hit"))
    brute.join(hits, Seq("q_id", "vec_id"), "left")
      .groupBy(col("q_id"))
      .agg(count(lit(1)).as("n_brute"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
      .select(col("q_id"), col("n_brute"), col("n_hits"),
        expr("(n_hits * 10000) div n_brute").as("recall_bp"))
  }

  // Builds that other queries reuse; `all` lists each under its name.

  /** Fuzzy record linkage: edit distance ≤ 14 between 24-char text
    * prefixes, blocked by lang × source — the OCR-noise / near-title
    * matcher that set-based similarity misses (levenshtein is native
    * codegen'd in both engines). */
  private val fuzzyPairs: Q = (s, dir) => {
    val p = t(s, dir, "documents")
      .select(col("doc_id"), col("lang"), col("source"),
        substring(col("text"), 1, 24).as("pre"))
    val a = p.select(col("doc_id").as("doc_a"), col("lang"), col("source"),
      col("pre").as("pre_a"))
    val b = p.select(col("doc_id").as("doc_b"), col("lang"), col("source"),
      col("pre").as("pre_b"))
    a.join(broadcast(b), Seq("lang", "source"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        levenshtein(col("pre_a"), col("pre_b")).cast("bigint").as("edit_dist"))
      .filter(col("edit_dist") <= 14)
  }

  /** Hybrid retrieval: BM25 (q50's terms) ⊕ exact-cosine ANN (q29's
    * query vector 0) fused by reciprocal rank — the production search
    * stack's calibration-free combiner over two already-gated legs. */
  private val hybridRetrieval: Q = (s, dir) =>
    Retrieval.hybridTopK(t(s, dir, "documents"), t(s, dir, "embeddings"),
      terms = Seq("spark", "merge", "window"), qId = 0L, kLeg = 20, k = 10)

  /** q200's fusion with the INDEXED semantic leg — IVF routing
    * (nprobe 2) instead of the brute corpus scan, through
    * [[graft.operators.Retrieval.hybridTopKWithLeg]]'s leg seam: the
    * production shape where the ANN index answers the vector side and
    * the fusion math is untouched. The driver row also gates the
    * recall trade: where the probed clusters miss a true neighbor,
    * the fused ranking must diverge from q200 exactly as the oracle's
    * replayed routing says. */
  private val hybridIvf: Q = (s, dir) => {
    val e = t(s, dir, "embeddings")
    val leg = Similarity.ivfTopK(e.filter(col("vec_id") === 0), e,
      Similarity.centroids(e), k = 20, nprobe = 2)
    Retrieval.hybridTopKWithLeg(t(s, dir, "documents"),
      terms = Seq("spark", "merge", "window"), leg, kLeg = 20, k = 10)
  }

  val all: Seq[QueryDef] = Seq(
    /** Token counting: whitespace words + BPE-ish regex tokens. */
    QueryDef("q20_token_stats", (s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        TextOps.wordCount(col("text")).as("n_words"),
        TextOps.tokenCount(col("text")).as("n_tokens"),
        length(col("text")).cast("bigint").as("n_chars")),
      """SELECT doc_id,
                CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
                CAST(len(regexp_extract_all(text, '([A-Za-z]+|[0-9]+|[^A-Za-z0-9 ])', 1)) AS BIGINT) AS n_tokens,
                CAST(length(text) AS BIGINT) AS n_chars
         FROM documents"""),

    /** Quality scoring (length/punct/stopword ratios + composite). */
    QueryDef("q21_quality", (s, dir) => TextOps.qualityFeatures(t(s, dir, "documents")),
      """SELECT doc_id,
                CAST(length(text) AS BIGINT) AS n_chars,
                CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
                CAST(floor(CAST(length(text) - (len(string_split(text, ' ')) - 1) AS DOUBLE)
                      / len(string_split(text, ' ')) * 10000) AS BIGINT) AS avg_word_len_bp,
                CAST(floor(CAST(len(regexp_extract_all(text, '([.,!?;:''"()\[\]{}-])', 1)) AS DOUBLE)
                      / length(text) * 10000) AS BIGINT) AS punct_ratio_bp,
                CAST(floor(CAST(len(regexp_extract_all(text, '\b(the|a|of|and|is|to|in)\b')) AS DOUBLE)
                      / len(string_split(text, ' ')) * 10000) AS BIGINT) AS stopword_ratio_bp,
                CAST(floor((least(CAST(len(string_split(text, ' ')) AS DOUBLE) / 100, 1.0) * 0.5
                      + least(CAST(len(regexp_extract_all(text, '\b(the|a|of|and|is|to|in)\b')) AS DOUBLE)
                              / len(string_split(text, ' ')) * 10, 1.0) * 0.3
                      + (1.0 - least(CAST(len(regexp_extract_all(text, '([.,!?;:''"()\[\]{}-])', 1)) AS DOUBLE)
                                     / length(text) * 20, 1.0)) * 0.2) * 10000) AS BIGINT) AS quality_score_bp
         FROM documents"""),

    /** Language-ID heuristic over stopword lexicons. */
    QueryDef("q22_langid", (s, dir) => TextOps.langId(t(s, dir, "documents")),
      raw"""SELECT doc_id, lang,
                CAST(len(regexp_extract_all(text, '\b(the|a|of|and|is)\b')) AS BIGINT) AS en_hits,
                CAST(len(regexp_extract_all(text, '\b(der|die|das|und|ist)\b')) AS BIGINT) AS de_hits,
                CAST(len(regexp_extract_all(text, '\b(el|los|una|y|es)\b')) AS BIGINT) AS es_hits,
                CAST(len(regexp_extract_all(text, '\b(le|la|et|les|des)\b')) AS BIGINT) AS fr_hits,
                CAST(length(regexp_replace(text, '[ -~]', '', 'g')) AS BIGINT) AS n_nonascii,
                $langIdCase
         FROM documents"""),

    /** Canonical fingerprint + blocking prefix. */
    QueryDef("q23_fingerprint", (s, dir) => TextOps.fingerprints(t(s, dir, "documents")),
      """SELECT doc_id,
                md5(lower(regexp_replace(text, '\s+', ' ', 'g'))) AS fingerprint,
                substr(md5(lower(regexp_replace(text, '\s+', ' ', 'g'))), 1, 8) AS block
         FROM documents"""),

    /** Exact dedup: hash-groupBy, min doc_id is the keeper. */
    QueryDef("q24_dedup_exact", (s, dir) =>
      t(s, dir, "documents")
        .groupBy(md5(col("text")).as("h"))
        .agg(count(lit(1)).as("n_copies"), min(col("doc_id")).as("keeper")),
      """SELECT md5(text) AS h, count(*) AS n_copies,
                CAST(min(doc_id) AS BIGINT) AS keeper
         FROM documents GROUP BY 1"""),

    /** MinHash signatures (8 hashes over 3-word shingles). */
    QueryDef("q25_minhash_sig", (s, dir) =>
      MinHashLsh.signatures(t(s, dir, "documents"))
        .select(col("doc_id"), col("seed").cast("bigint").as("seed"), col("minhash")),
      """SELECT doc_id, j AS seed,
                min(md5(CAST(j AS VARCHAR) || ':' || sh)) AS minhash
         FROM (SELECT doc_id,
                      unnest(list_transform(range(1, len(s) - 1),
                             i -> s[i] || ' ' || s[i+1] || ' ' || s[i+2])) AS sh
               FROM (SELECT doc_id, string_split(text, ' ') AS s FROM documents)),
              (SELECT unnest(range(0, 8)) AS j)
         GROUP BY doc_id, j"""),

    /** Full near-dup pipeline: LSH candidates + exact Jaccard ≥ 0.2. */
    QueryDef("q26_lsh_neardup", (s, dir) =>
      MinHashLsh.nearDuplicates(t(s, dir, "documents"), threshold = 0.2),
      s"""WITH $minhashPairCtes
         SELECT doc_a, doc_b,
                round(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 4) AS jaccard
         FROM inter
         JOIN sz sa ON sa.doc_id = doc_a
         JOIN sz sb ON sb.doc_id = doc_b
         WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.2"""),

    /** 32-bit SimHash fingerprints. */
    QueryDef("q27_simhash", (s, dir) => SimHash.fingerprints(t(s, dir, "documents")),
      """SELECT doc_id,
                CAST(sum(CASE WHEN score > 0 THEN CAST(1 AS BIGINT) << CAST(j AS INT) ELSE 0 END) AS BIGINT) AS simhash
         FROM (SELECT doc_id, j,
                      sum(CASE WHEN substr(md5(w), CAST(j AS INT) + 1, 1)
                               IN ('1','3','5','7','9','b','d','f') THEN 1 ELSE -1 END) AS score
               FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
                    (SELECT unnest(range(0, 32)) AS j)
               GROUP BY doc_id, j)
         GROUP BY doc_id"""),

    /** Embedding-cosine near-dup pairs, blocked by cluster label. */
    QueryDef("q28_embed_neardup", (s, dir) =>
      Similarity.nearDupPairs(t(s, dir, "embeddings"), threshold = 0.3),
      """WITH e AS (SELECT label, vec_id, CAST(embedding AS DOUBLE[]) AS v
                    FROM embeddings)
         SELECT a.label, a.vec_id AS vec_a, b.vec_id AS vec_b,
                round(list_cosine_similarity(a.v, b.v), 6) AS sim
         FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
         WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.3"""),

    /** Brute-force exact ANN baseline: top-10 for query vectors id<5. */
    QueryDef("q29_ann_brute", (s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.bruteForceTopK(e.filter(col("vec_id") < 5), e, k = 10)
    },
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 5),
         s AS (SELECT q_id, vec_id,
                      round(list_cosine_similarity(qv, v), 6) AS sim
               FROM q, e)
         SELECT q_id, vec_id, sim, rank FROM (
           SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
                     ORDER BY sim DESC, vec_id) AS rank FROM s)
         WHERE rank <= 10"""),

    /** IVF-routed ANN: nearest centroid, search that cluster only. The
      * centroid table is built once and passed in (the index-build /
      * query split a real deployment needs). */
    QueryDef("q30_ann_ivf", (s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.ivfTopK(e.filter(col("vec_id") < 5), e,
        Similarity.centroids(e), k = 10, nprobe = 1)
    },
      ivfTop10Oracle("= 1")),

    /** IVF with nprobe=2: the recall knob — search the two nearest
      * clusters per query instead of one. */
    QueryDef("q30b_ann_ivf_nprobe2", (s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.ivfTopK(e.filter(col("vec_id") < 5), e,
        Similarity.centroids(e), k = 10, nprobe = 2)
    },
      ivfTop10Oracle("<= 2")),

    /** Multimodal media wrap: binary payload + typed metadata. The
      * payload is hex-encoded for the driver compare (binary cells hash
      * differently across parquet readers); raw binary plumbing is
      * exercised in Multimodal + OperatorsSpec. */
    QueryDef("q31_multimodal", (s, dir) =>
      Multimodal.toMedia(t(s, dir, "documents"))
        .select(col("doc_id"), hex(col("payload")).as("payload_hex"),
          col("media_type"),
          col("meta.n_bytes").as("n_bytes"),
          col("meta.content_hash").as("content_hash"),
          col("meta.source").as("source")),
      """SELECT doc_id, upper(hex(CAST(text AS BLOB))) AS payload_hex,
                'text/plain' AS media_type,
                CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes,
                md5(text) AS content_hash, source
         FROM documents"""),

    /** Stub decode / feature extraction (typed mapPartitions, deterministic
      * fake decoder). The `features` array is projected to basis-point
      * bigint scalars (same trick as q21's ratios) so the driver compare
      * sorts scalars, not ndarrays; the typed `Dataset[MediaFeatures]`
      * path stays exercised in OperatorsSpec. */
    QueryDef("q32_multimodal_features", (s, dir) =>
      Multimodal.extractFeatures(Multimodal.toMedia(t(s, dir, "documents")))
        .toDF()
        .select(
          col("doc_id"),
          col("feat_dim").cast("bigint").as("feat_dim"),
          floor(element_at(col("features"), 1) * 10000).cast("bigint").as("f0_bp"),
          floor(element_at(col("features"), 2) * 10000).cast("bigint").as("f1_bp"),
          floor(element_at(col("features"), 3) * 10000).cast("bigint").as("f2_bp"),
          floor(element_at(col("features"), 4) * 10000).cast("bigint").as("f3_bp")),
      // fakeDecode's 4-bucket byte histogram, replayed in SQL: bucket =
      // byte/64 = the high hex nibble of each UTF-8 byte ('0'-'3' → b0,
      // '4'-'7' → b1, '8'-'B' → b2, 'C'-'F' → b3), normalized by byte
      // count. Division order matches the Scala (cnt/len then ×10⁴) so the
      // doubles are bit-identical before floor.
      """WITH b AS (
           SELECT doc_id, upper(hex(CAST(text AS BLOB))) AS h,
                  CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n
           FROM documents),
         nb AS (
           SELECT doc_id, n,
                  list_transform(range(1, CAST(n AS INT) + 1),
                         i -> substr(h, CAST(2*i - 1 AS INT), 1)) AS hs
           FROM b)
         SELECT doc_id, CAST(4 AS BIGINT) AS feat_dim,
                CAST(floor(CAST(len(list_filter(hs, c -> c >= '0' AND c <= '3')) AS DOUBLE) / n * 10000) AS BIGINT) AS f0_bp,
                CAST(floor(CAST(len(list_filter(hs, c -> c >= '4' AND c <= '7')) AS DOUBLE) / n * 10000) AS BIGINT) AS f1_bp,
                CAST(floor(CAST(len(list_filter(hs, c -> c >= '8' AND c <= 'B')) AS DOUBLE) / n * 10000) AS BIGINT) AS f2_bp,
                CAST(floor(CAST(len(list_filter(hs, c -> c >= 'C' AND c <= 'F')) AS DOUBLE) / n * 10000) AS BIGINT) AS f3_bp
         FROM nb"""),

    /** Char-4-gram Jaccard near-dup pairs, blocked by (lang, source) —
      * sorted gram-hash arrays + native merge-scan intersection (the
      * fastest of the three equivalent NgramJaccard strategies; the
      * DuckDB oracle stays brute-force on actual grams). */
    QueryDef("q34_ngram_jaccard", (s, dir) =>
      NgramJaccard.nearDupPairsHashed(t(s, dir, "documents"),
        blockCols = Seq("lang", "source"), n = 4, threshold = 0.5),
      s"""WITH $char4GramOverlapCtes
         SELECT doc_a, doc_b,
                round(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 4) AS jaccard
         FROM inter
         JOIN sz sa ON sa.doc_id = doc_a
         JOIN sz sb ON sb.doc_id = doc_b
         WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.5"""),

    /** Near-dup GROUPS: connected components over the LSH pair list —
      * (doc_id, group_id=min of component, keep=is-the-keeper). */
    QueryDef("q35_dedup_groups", (s, dir) =>
      DedupGroups.dedupGroups(t(s, dir, "documents"), threshold = 0.2),
      // q26's pair pipeline + a recursive transitive closure, min label
      // per component (DuckDB's UNION-recursion stops at the fixpoint the
      // same way the Spark loop's convergence check does)
      s"""WITH RECURSIVE $minhashComponentCtes
         SELECT doc_id, min(r) AS group_id, (doc_id = min(r)) AS keep
         FROM reach GROUP BY doc_id"""),

    /** Deterministic corpus curation: per-language hash sampling (en 25%,
      * de 50%, rest kept) + independent train/val/test assignment. */
    QueryDef("q36_stratified_split", (s, dir) =>
      Sampling.withSplit(
        Sampling.stratifiedSample(t(s, dir, "documents"), "lang", col("doc_id"),
          rates = Map("en" -> 0.25, "de" -> 0.5), defaultRate = 1.0),
        col("doc_id"))
        .select(col("doc_id"), col("lang"), col("split")),
      """SELECT doc_id, lang,
                CASE WHEN substr(md5('graft-split:' || CAST(doc_id AS VARCHAR)), 1, 2) < '03' THEN 'val'
                     WHEN substr(md5('graft-split:' || CAST(doc_id AS VARCHAR)), 1, 2) < '05' THEN 'test'
                     ELSE 'train' END AS split
         FROM documents
         WHERE substr(md5('graft:' || CAST(doc_id AS VARCHAR)), 1, 2) <
               CASE lang WHEN 'en' THEN '40' WHEN 'de' THEN '80' ELSE 'g' END"""),

    /** Sign-LSH bucketed ANN: the bucket-join scale path (vs q29 brute /
      * q30 IVF) — deterministic Rademacher hyperplanes, so the oracle
      * replays the exact buckets. */
    QueryDef("q37_ann_lsh", (s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.lshTopK(e.filter(col("vec_id") < 5), e, numPlanes = 8, k = 10)
    },
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         hp AS (
           SELECT h, j,
                  CASE WHEN substr(md5(CAST(h AS VARCHAR) || ':' || CAST(j AS VARCHAR)), 1, 1)
                       IN ('0','2','4','6','8','a','c','e') THEN 1.0 ELSE -1.0 END AS c
           FROM (SELECT unnest(range(0, 8)) AS h), (SELECT unnest(range(1, 65)) AS j)),
         bits AS (
           SELECT vec_id, h,
                  CASE WHEN round(sum(c * v[CAST(j AS INT)]), 6) > 0 THEN 1 ELSE 0 END AS bit
           FROM e, hp GROUP BY vec_id, h),
         bkt AS (
           SELECT vec_id, CAST(sum(bit * (CAST(1 AS BIGINT) << CAST(h AS INT))) AS BIGINT) AS bucket
           FROM bits GROUP BY vec_id),
         eu AS (
           SELECT e.vec_id, bkt.bucket, e.v
           FROM e JOIN bkt ON e.vec_id = bkt.vec_id),
         q AS (SELECT vec_id AS q_id, bucket, v AS qv FROM eu WHERE vec_id < 5),
         s AS (SELECT q.q_id, q.bucket, eu.vec_id,
                      round(list_cosine_similarity(q.qv, eu.v), 6) AS sim
               FROM q JOIN eu ON eu.bucket = q.bucket)
         SELECT q_id, bucket, vec_id, sim, rank FROM (
           SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
                     ORDER BY sim DESC, vec_id) AS rank FROM s)
         WHERE rank <= 10"""),

    /** Corpus length distribution per language: exact interpolated
      * quantiles (approx_percentile is the 100-TB drop-in; exact keeps
      * the oracle bit-comparable). */
    QueryDef("q38_len_quantiles", (s, dir) =>
      t(s, dir, "documents")
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_docs"),
          round(expr("percentile(length(text), 0.25)"), 4).as("p25"),
          round(expr("percentile(length(text), 0.5)"), 4).as("p50"),
          round(expr("percentile(length(text), 0.75)"), 4).as("p75")),
      """SELECT lang, count(*) AS n_docs,
                round(quantile_cont(length(text), 0.25), 4) AS p25,
                round(quantile_cont(length(text), 0.5), 4) AS p50,
                round(quantile_cont(length(text), 0.75), 4) AS p75
         FROM documents GROUP BY lang"""),

    /** TF-IDF top-3 terms per language — tf over the language slice, df
      * over all docs, ln((N+1)/(df+1)) idf, rank on the ROUNDED score so
      * cross-engine float noise can't reorder. */
    QueryDef("q39_tfidf_top", (s, dir) => {
      val docs = t(s, dir, "documents")
      val terms = docs.select(col("doc_id"), col("lang"),
        explode(split(col("text"), " ")).as("term"))
      val n = docs.agg(countDistinct(col("doc_id")).as("n_docs"))
      val dft = terms.select(col("doc_id"), col("term")).distinct()
        .groupBy(col("term")).agg(count(lit(1)).as("df"))
      val tf = terms.groupBy(col("lang"), col("term")).agg(count(lit(1)).as("tf"))
      val w = Window.partitionBy(col("lang")).orderBy(col("score").desc, col("term"))
      tf.join(dft, Seq("term"))
        .crossJoin(broadcast(n))
        .withColumn("score",
          round(col("tf") * log((col("n_docs") + 1.0) / (col("df") + 1.0)), 4))
        .withColumn("rank", row_number().over(w).cast("bigint"))
        .filter(col("rank") <= 3)
        .select(col("lang"), col("term"), col("tf"), col("df"), col("score"), col("rank"))
    },
      """WITH terms AS (
           SELECT doc_id, lang, unnest(string_split(text, ' ')) AS term
           FROM documents),
         n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
         dft AS (SELECT term, count(*) AS df
                 FROM (SELECT DISTINCT doc_id, term FROM terms) GROUP BY term),
         tf AS (SELECT lang, term, count(*) AS tf FROM terms GROUP BY lang, term),
         scored AS (
           SELECT lang, term, tf, df,
                  round(tf * ln((n_docs + 1.0) / (df + 1.0)), 4) AS score
           FROM tf JOIN dft USING (term), n)
         SELECT lang, term, tf, df, score, rank FROM (
           SELECT *, ROW_NUMBER() OVER (PARTITION BY lang
                     ORDER BY score DESC, term) AS rank
           FROM scored)
         WHERE rank <= 3"""),

    /** Gap-based sessionization of the event stream: a >30-minute silence
      * starts a new session per user — the per-user window is partitioned,
      * so the cumulative break-count scales with users, not events. */
    QueryDef("q40_sessionize", (s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "events")
        .withColumn("brk",
          when(lag(col("ts"), 1).over(w).isNull
            .or(col("ts") - lag(col("ts"), 1).over(w) > expr("INTERVAL 30 MINUTES")), 1L)
            .otherwise(0L))
        .withColumn("session_id", sum(col("brk")).over(cum))
        .groupBy(col("user_id"), col("session_id"))
        .agg(count(lit(1)).as("n_events"),
          round(sum(col("value")), 2).as("sum_value"),
          min(col("ts")).as("session_start"),
          max(col("ts")).as("session_end"))
    },
      """WITH x AS (
           SELECT user_id, ts, event_id, value,
                  CASE WHEN lag(ts) OVER w IS NULL
                       OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS brk
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         s AS (
           SELECT *, CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
           FROM x)
         SELECT user_id, session_id, count(*) AS n_events,
                round(sum(value), 2) AS sum_value,
                min(ts) AS session_start, max(ts) AS session_end
         FROM s GROUP BY user_id, session_id"""),

    /** Sequence packing: concatenate each language's docs in doc_id order
      * and chunk at 4096 tokens — every doc gets its token start offset
      * and the training-window id it lands in (the straddle-aware
      * concatenate-and-chunk step of LM data prep). */
    QueryDef("q41_token_chunks", (s, dir) => {
      val w = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          TextOps.wordCount(col("text")).as("n_tok"))
        .withColumn("start_off", sum(col("n_tok")).over(w) - col("n_tok"))
        .withColumn("chunk", floor(col("start_off") / 4096).cast("bigint"))
    },
      """SELECT doc_id, lang, n_tok,
                CAST(sum(n_tok) OVER w - n_tok AS BIGINT) AS start_off,
                CAST(floor((sum(n_tok) OVER w - n_tok) / 4096) AS BIGINT) AS chunk
         FROM (SELECT doc_id, lang,
                      CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
               FROM documents)
         WINDOW w AS (PARTITION BY lang ORDER BY doc_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"""),

    /** The operators composed end-to-end as one curation pass — what a
      * training-data engine actually runs: language gate → quality gate →
      * exact-dedup keeper → near-dup group keeper → deterministic 50%
      * sample. Every stage reuses the operator (and oracle formula) it is
      * individually checked by. */
    QueryDef("q42_curation", (s, dir) => {
      val docs = t(s, dir, "documents")
      val lang = TextOps.langId(docs).select(col("doc_id"), col("pred_lang"))
      val qual = TextOps.qualityFeatures(docs)
        .select(col("doc_id"), col("quality_score_bp"))
      val keepers = docs.groupBy(md5(col("text")).as("h"))
        .agg(min(col("doc_id")).as("keeper"))
      val groups = DedupGroups.dedupGroups(docs, threshold = 0.2)
        .select(col("doc_id"), col("group_id"))
      docs.select(col("doc_id"), md5(col("text")).as("h"),
          TextOps.wordCount(col("text")).as("n_tok"))
        .join(lang, Seq("doc_id"))
        .join(qual, Seq("doc_id"))
        .join(keepers, Seq("h"))
        .filter(col("doc_id") === col("keeper")) // exact-dup keeper only
        .join(groups, Seq("doc_id"), "left")
        .filter(col("group_id").isNull || col("group_id") === col("doc_id")) // near-dup keeper
        .filter(col("pred_lang") =!= "unknown")
        .filter(col("quality_score_bp") >= 4000)
        .filter(Sampling.samplePredicate(col("doc_id"), 0.5, "curate"))
        .select(col("doc_id"), col("pred_lang"), col("quality_score_bp"), col("n_tok"))
    },
      // end-to-end curation: assembled verbatim from the q22 (pred_lang),
      // q21 (quality), q24 (exact keeper), q35 (near-dup groups), and q36
      // (hash sample) oracle formulas
      raw"""WITH RECURSIVE $minhashComponentCtes,
         grp AS (SELECT doc_id, min(r) AS group_id FROM reach GROUP BY doc_id),
         keepers AS (SELECT md5(text) AS h, min(doc_id) AS keeper
                     FROM documents GROUP BY 1),
         feat AS (
           SELECT doc_id, md5(text) AS h,
                  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
                  CASE WHEN length(regexp_replace(text, '[ -~]', '', 'g')) > 0 THEN 'zh'
                       WHEN len(regexp_extract_all(text, '\b(the|a|of|and|is)\b')) = 0
                            AND len(regexp_extract_all(text, '\b(der|die|das|und|ist)\b')) = 0
                            AND len(regexp_extract_all(text, '\b(el|los|una|y|es)\b')) = 0
                            AND len(regexp_extract_all(text, '\b(le|la|et|les|des)\b')) = 0 THEN 'unknown'
                       WHEN len(regexp_extract_all(text, '\b(the|a|of|and|is)\b')) >= len(regexp_extract_all(text, '\b(der|die|das|und|ist)\b'))
                            AND len(regexp_extract_all(text, '\b(the|a|of|and|is)\b')) >= len(regexp_extract_all(text, '\b(el|los|una|y|es)\b'))
                            AND len(regexp_extract_all(text, '\b(the|a|of|and|is)\b')) >= len(regexp_extract_all(text, '\b(le|la|et|les|des)\b')) THEN 'en'
                       WHEN len(regexp_extract_all(text, '\b(der|die|das|und|ist)\b')) >= len(regexp_extract_all(text, '\b(el|los|una|y|es)\b'))
                            AND len(regexp_extract_all(text, '\b(der|die|das|und|ist)\b')) >= len(regexp_extract_all(text, '\b(le|la|et|les|des)\b')) THEN 'de'
                       WHEN len(regexp_extract_all(text, '\b(el|los|una|y|es)\b')) >= len(regexp_extract_all(text, '\b(le|la|et|les|des)\b')) THEN 'es'
                       ELSE 'fr' END AS pred_lang,
                  $qualityScoreBp AS quality_score_bp
           FROM documents)
         SELECT f.doc_id, f.pred_lang, f.quality_score_bp, f.n_tok
         FROM feat f
         JOIN keepers k ON f.h = k.h AND f.doc_id = k.keeper
         LEFT JOIN grp g ON g.doc_id = f.doc_id
         WHERE (g.group_id IS NULL OR g.group_id = f.doc_id)
           AND f.pred_lang <> 'unknown'
           AND f.quality_score_bp >= 4000
           AND substr(md5('curate:' || CAST(f.doc_id AS VARCHAR)), 1, 2) < '80'"""),

    /** Benchmark decontamination: docs sharing any word-8-gram with the
      * eval set (here: doc_id < 3 standing in for a benchmark table).
      * The eval set's distinct shingle hashes collapse into ONE sorted
      * array broadcast to every scan task, so the corpus pass is
      * shuffle-free: shingle → hash → native merge-scan intersect per
      * row. The oracle intersects the actual shingle strings — the 2⁻⁶⁴
      * hash-collision divergence is the same trade q26 documents. */
    QueryDef("q43_decontaminate", (s, dir) => {
      import graft.functions.SortedIntersect.sorted_intersect_count
      import graft.functions.WordShingles.word_shingles
      val docs = t(s, dir, "documents")
      val evalArr = docs.filter(col("doc_id") < 3)
        .select(explode(word_shingles(col("text"), 8)).as("sh"))
        .agg(array_sort(collect_set(xxhash64(col("sh")))).as("eh"))
      docs
        .select(col("doc_id"),
          array_sort(array_distinct(
            transform(word_shingles(col("text"), 8), sh => xxhash64(sh)))).as("gh"))
        .crossJoin(broadcast(evalArr))
        .select(col("doc_id"), sorted_intersect_count(col("gh"), col("eh")).as("n_shared"))
        .filter(col("n_shared") > 0)
    },
      """WITH sh AS (
           SELECT doc_id,
                  unnest(list_transform(range(1, len(s) - 6),
                         i -> s[i] || ' ' || s[i+1] || ' ' || s[i+2] || ' ' || s[i+3]
                           || ' ' || s[i+4] || ' ' || s[i+5] || ' ' || s[i+6] || ' ' || s[i+7])) AS sh
           FROM (SELECT doc_id, string_split(text, ' ') AS s FROM documents)),
         shd AS (SELECT DISTINCT doc_id, sh FROM sh),
         ev AS (SELECT DISTINCT sh FROM shd WHERE doc_id < 3)
         SELECT d.doc_id, count(*) AS n_shared
         FROM shd d JOIN ev ON d.sh = ev.sh
         GROUP BY d.doc_id"""),

    /** Incremental dedup: the new batch (doc_id ≡ 0 mod 10 stands in for
      * today's ingest) LSH-joined against the existing corpus — never
      * corpus × corpus. */
    QueryDef("q44_incremental_dedup", (s, dir) => {
      val docs = t(s, dir, "documents")
      MinHashLsh.nearDuplicatesAgainst(
        docs.filter(col("doc_id") % 10 === 0),
        docs.filter(col("doc_id") % 10 =!= 0),
        threshold = 0.2)
    },
      // q26's sketch pipeline, split new-vs-corpus: candidate pairs only
      // cross the split (bucket cap on the corpus side, like production
      // incremental dedup where corpus bands are the persisted index)
      s"""WITH $minhashBands),
         nb AS (SELECT doc_id AS doc_new, band, bucket FROM band WHERE doc_id % 10 = 0),
         cb AS (SELECT doc_id AS doc_old, band, bucket FROM band WHERE doc_id % 10 <> 0
                QUALIFY count(*) OVER (PARTITION BY band, bucket) <= 1000),
         cand AS (
           SELECT DISTINCT doc_new, doc_old
           FROM nb JOIN cb ON nb.band = cb.band AND nb.bucket = cb.bucket),
         shd AS (SELECT DISTINCT doc_id, sh FROM sh),
         inter AS (
           SELECT c.doc_new, c.doc_old, count(*) AS i
           FROM cand c
           JOIN shd x ON x.doc_id = c.doc_new
           JOIN shd y ON y.doc_id = c.doc_old AND x.sh = y.sh
           GROUP BY c.doc_new, c.doc_old),
         sz AS (SELECT doc_id, count(*) AS n FROM shd GROUP BY doc_id)
         SELECT doc_new, doc_old,
                round(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 4) AS jaccard
         FROM inter
         JOIN sz sa ON sa.doc_id = doc_new
         JOIN sz sb ON sb.doc_id = doc_old
         WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.2"""),

    /** Intra-document repetition (a Gopher-style quality signal): the
      * fraction of duplicate word-3-grams within each doc, in basis
      * points. Scan-local: shingle + two set sizes per row. */
    QueryDef("q45_repetition", (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          graft.functions.WordShingles.word_shingles(col("text"), 3).as("sh"))
        .select(col("doc_id"),
          size(col("sh")).cast("bigint").as("n_grams"),
          size(array_distinct(col("sh"))).cast("bigint").as("n_distinct"))
        .withColumn("dup_ratio_bp",
          when(col("n_grams") > 0,
            floor((col("n_grams") - col("n_distinct")).cast("double")
              / col("n_grams") * 10000).cast("bigint"))
            .otherwise(lit(0L))),
      """SELECT doc_id,
                CAST(len(g) AS BIGINT) AS n_grams,
                CAST(len(list_distinct(g)) AS BIGINT) AS n_distinct,
                CASE WHEN len(g) > 0
                     THEN CAST(floor(CAST(len(g) - len(list_distinct(g)) AS DOUBLE)
                               / len(g) * 10000) AS BIGINT)
                     ELSE 0 END AS dup_ratio_bp
         FROM (SELECT doc_id,
                      CASE WHEN len(s) >= 3
                           THEN list_transform(range(1, len(s) - 1),
                                i -> s[i] || ' ' || s[i+1] || ' ' || s[i+2])
                           ELSE [] END AS g
               FROM (SELECT doc_id, string_split(text, ' ') AS s FROM documents))"""),

    /** PII-pattern scan (the scrubber's counting pass): emails, phone-ish
      * digit runs, IPv4s/IPv6s, SSN-shaped national ids, AWS key ids and
      * PEM private-key headers per document — identical regexes in the
      * oracle, read from [[TextOps.piiPatterns]] (the SAME list q199's
      * redact rewrites with, so scan and scrub can never drift). */
    QueryDef("q46_pii_scan", (s, dir) => {
      val Seq(email, phone, ipv4, ipv6, ssn, awskey, keyblock) =
        TextOps.piiPatterns.map(_._1)
      def n(p: String) =
        size(regexp_extract_all(col("text"), lit(p), lit(0))).cast("bigint")
      Spread.scan(t(s, dir, "documents")) // 7-regex kernel
        .select(col("doc_id"), n(email).as("n_emails"),
          n(phone).as("n_phones"), n(ipv4).as("n_ipv4"),
          n(ipv6).as("n_ipv6"), n(ssn).as("n_ssn"),
          n(awskey).as("n_awskey"), n(keyblock).as("n_keyblock"))
    },
      """SELECT doc_id,
                CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
                CAST(len(regexp_extract_all(text, '\b[0-9]{3}[- .][0-9]{3}[- .][0-9]{4}\b')) AS BIGINT) AS n_phones,
                CAST(len(regexp_extract_all(text, '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) AS BIGINT) AS n_ipv4,
                CAST(len(regexp_extract_all(text, '\b(?:[0-9A-Fa-f]{1,4}:){7}[0-9A-Fa-f]{1,4}\b|\b(?:[0-9A-Fa-f]{1,4}:){1,6}(?::[0-9A-Fa-f]{1,4}){1,6}\b|\b(?:[0-9A-Fa-f]{1,4}:){2,7}:|::(?:[0-9A-Fa-f]{1,4}:){0,6}[0-9A-Fa-f]{1,4}\b')) AS BIGINT) AS n_ipv6,
                CAST(len(regexp_extract_all(text, '\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b')) AS BIGINT) AS n_ssn,
                CAST(len(regexp_extract_all(text, '\bAKIA[0-9A-Z]{16}\b')) AS BIGINT) AS n_awskey,
                CAST(len(regexp_extract_all(text, '-----BEGIN [A-Z ]*PRIVATE KEY-----')) AS BIGINT) AS n_keyblock
         FROM documents"""),

    /** Cohort retention matrix over events: users bucketed by first
      * active day, counted per day-offset. */
    QueryDef("q47_retention", (s, dir) => EventOps.retention(t(s, dir, "events")),
      """WITH f AS (SELECT user_id, min(CAST(ts AS DATE)) AS cohort_day
                    FROM events GROUP BY user_id),
         a AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events)
         SELECT cohort_day,
                CAST(datediff('day', cohort_day, day) AS BIGINT) AS day_offset,
                count(DISTINCT user_id) AS n_users
         FROM a JOIN f USING (user_id)
         GROUP BY 1, 2"""),

    /** Deterministic sharded global shuffle: md5-keyed shard + in-shard
      * position — the "shuffle the corpus once, reproducibly" op. */
    QueryDef("q48_shuffle_shards", (s, dir) =>
      Sampling.shuffleShards(t(s, dir, "documents"), col("doc_id"), nShards = 16)
        .select(col("doc_id"), col("lang"), col("shard"), col("pos")),
      """WITH k AS (
           SELECT doc_id, lang,
                  md5('graft-shuffle:' || CAST(doc_id AS VARCHAR)) AS skey
           FROM documents),
         v AS (
           SELECT doc_id, lang, skey,
                  CAST(((instr('0123456789abcdef', substr(skey, 1, 1)) - 1) * 16
                        + instr('0123456789abcdef', substr(skey, 2, 1)) - 1)
                       % 16 AS BIGINT) AS shard
           FROM k)
         SELECT doc_id, lang, shard,
                CAST(ROW_NUMBER() OVER (PARTITION BY shard
                     ORDER BY skey, doc_id) AS BIGINT) AS pos
         FROM v"""),

    /** Mixture resampling with epochs: en ×2.0, de ×1.5, es ×0.5, rest
      * ×1.0 — replicated rows carry (n_copies, copy). */
    QueryDef("q49_mixture_resample", (s, dir) =>
      Sampling.mixtureResample(t(s, dir, "documents"), "lang", col("doc_id"),
        epochs = Map("en" -> 2.0, "de" -> 1.5, "es" -> 0.5))
        .select(col("doc_id"), col("lang"), col("n_copies"), col("copy")),
      """WITH base AS (
           SELECT doc_id, lang,
                  CASE lang WHEN 'en' THEN 2 WHEN 'de' THEN 1 WHEN 'es' THEN 0 ELSE 1 END
                  + CASE WHEN substr(md5('graft-mix:' || CAST(doc_id AS VARCHAR)), 1, 2) <
                              CASE lang WHEN 'en' THEN '00' WHEN 'de' THEN '80'
                                        WHEN 'es' THEN '80' ELSE '00' END
                         THEN 1 ELSE 0 END AS n_copies
           FROM documents)
         SELECT doc_id, lang, CAST(n_copies AS BIGINT) AS n_copies,
                CAST(copy AS BIGINT) AS copy
         FROM (SELECT doc_id, lang, n_copies,
                      unnest(range(1, n_copies + 1)) AS copy
               FROM base WHERE n_copies >= 1)"""),

    /** BM25 top-10 docs for a fixed query term set. */
    QueryDef("q50_bm25", (s, dir) =>
      Retrieval.bm25TopK(t(s, dir, "documents"),
        terms = Seq("spark", "merge", "window"), k = 10),
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
                       FROM documents),
         dl AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS DOUBLE) AS dl
                FROM documents),
         stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl FROM dl),
         tf AS (SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf
                FROM toks WHERE term IN ('spark', 'merge', 'window')
                GROUP BY doc_id, term),
         dft AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY term),
         scored AS (
           SELECT tf.doc_id,
                  round(ln(1 + (n_docs - df + 0.5) / (df + 0.5))
                        * tf * 2.2
                        / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl)), 6) AS term_score
           FROM tf JOIN dft USING (term) JOIN dl USING (doc_id), stats)
         SELECT doc_id, round(sum(term_score), 4) AS score, count(*) AS n_terms
         FROM scored GROUP BY doc_id
         ORDER BY score DESC, doc_id LIMIT 10"""),

    /** Gopher-style quality rule gates (independent booleans + pass). */
    QueryDef("q51_gopher_rules", (s, dir) => TextOps.gopherRules(t(s, dir, "documents")),
      s"""WITH $gopherBaseCtes
         SELECT doc_id, n_words, avg_word_len_bp, n_stop_forms, max_tf,
                CAST(floor(CAST(max_tf AS DOUBLE) / n_words * 10000) AS BIGINT) AS rep_ratio_bp,
                n_words BETWEEN 50 AND 100000 AS r_len,
                avg_word_len_bp BETWEEN 30000 AND 100000 AS r_wordlen,
                n_stop_forms >= 2 AS r_stop,
                floor(CAST(max_tf AS DOUBLE) / n_words * 10000) <= 800 AS r_rep,
                (n_words BETWEEN 50 AND 100000)
                  AND (avg_word_len_bp BETWEEN 30000 AND 100000)
                  AND n_stop_forms >= 2
                  AND floor(CAST(max_tf AS DOUBLE) / n_words * 10000) <= 800 AS pass
         FROM base JOIN wf USING (doc_id)"""),

    /** Cross-doc boilerplate word-8-grams: df ≥ 2, top 20. */
    QueryDef("q52_boilerplate_grams", (s, dir) =>
      TextOps.boilerplateGrams(t(s, dir, "documents"), n = 8, minDf = 2, topK = 20),
      s"""WITH $word8GramCte
         SELECT gram, count(*) AS df
         FROM g GROUP BY gram HAVING count(*) >= 2
         ORDER BY df DESC, gram LIMIT 20"""),

    /** Semantic clustering pass: nearest-centroid assignment + per-cluster
      * representative (the k-means E-step / semantic-dedup shape). */
    QueryDef("q53_semantic_clusters", (s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.assignClusters(e, Similarity.centroids(e))
    },
      s"""WITH $embeddingCentroidCtes,
         a AS (
           SELECT vec_id, cluster, csim FROM (
             SELECT e.vec_id, c.label AS cluster,
                    round(list_cosine_similarity(e.v, c.centroid), 6) AS csim,
                    ROW_NUMBER() OVER (PARTITION BY e.vec_id
                      ORDER BY round(list_cosine_similarity(e.v, c.centroid), 6) DESC,
                               c.label) AS rn
             FROM e, cent c)
           WHERE rn = 1)
         SELECT vec_id, cluster, csim,
                ROW_NUMBER() OVER (PARTITION BY cluster
                  ORDER BY csim DESC, vec_id) = 1 AS is_rep
         FROM a"""),

    /** Ordered funnel view → click → purchase over a bounded analysis
      * window (the window keeps the stage distribution discriminating —
      * over all history every user converts). */
    QueryDef("q54_funnel", (s, dir) =>
      EventOps.funnel(
        t(s, dir, "events").filter(col("ts") < lit("2024-01-04 00:00:00").cast("timestamp_ntz")),
        Seq("view", "click", "purchase"))
        .groupBy(col("stage")).agg(count(lit(1)).as("n_users")),
      """WITH ev AS (SELECT * FROM events
                     WHERE ts < TIMESTAMP '2024-01-04 00:00:00'),
         u AS (SELECT DISTINCT user_id FROM ev),
         t0 AS (SELECT user_id, min(ts) AS t0 FROM ev
                WHERE event_type = 'view' GROUP BY user_id),
         t1 AS (SELECT e.user_id, min(e.ts) AS t1 FROM ev e
                JOIN t0 ON e.user_id = t0.user_id
                WHERE e.event_type = 'click' AND e.ts > t0.t0 GROUP BY e.user_id),
         t2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM ev e
                JOIN t1 ON e.user_id = t1.user_id
                WHERE e.event_type = 'purchase' AND e.ts > t1.t1 GROUP BY e.user_id)
         SELECT stage, count(*) AS n_users FROM (
           SELECT u.user_id,
                  CAST(CASE WHEN t2.t2 IS NOT NULL THEN 3
                            WHEN t1.t1 IS NOT NULL THEN 2
                            WHEN t0.t0 IS NOT NULL THEN 1
                            ELSE 0 END AS BIGINT) AS stage
           FROM u LEFT JOIN t0 USING (user_id)
                  LEFT JOIN t1 USING (user_id)
                  LEFT JOIN t2 USING (user_id))
         GROUP BY stage"""),

    /** As-of join: each purchase paired with the user's most recent
      * strictly-prior click. */
    QueryDef("q55_asof_join", (s, dir) =>
      EventOps.asofJoin(t(s, dir, "events"), probeType = "purchase", refType = "click"),
      """WITH u AS (
           SELECT user_id, ts, event_id, event_type,
                  CASE WHEN event_type = 'click' THEN ts END AS ref_ts
           FROM events WHERE event_type IN ('purchase', 'click')),
         x AS (
           SELECT user_id, ts, event_id, event_type,
                  max(ref_ts) OVER (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prior_ref_ts
           FROM u)
         SELECT event_id, user_id, ts, prior_ref_ts
         FROM x WHERE event_type = 'purchase'"""),

    /** ROLLUP subtotals — (lang, source) cells, per-lang subtotals, grand
      * total in one pass (Spark expands grouping sets into a single
      * shuffle; the reference has no grouping sets at all, this is part
      * of the warehouse-completeness surface). */
    QueryDef("q56_rollup", (s, dir) =>
      t(s, dir, "documents")
        .rollup(col("lang"), col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).cast("bigint").as("sum_chars")),
      """SELECT lang, source, count(*) AS n_docs,
                CAST(sum(n_chars) AS BIGINT) AS sum_chars
         FROM documents
         GROUP BY ROLLUP (lang, source)"""),

    /** Pivot: per-user event-type counts as columns (Spark `pivot` with an
      * explicit value list keeps the plan a single hash agg; absent
      * combinations coalesce to 0 to match SQL's FILTER counts). */
    QueryDef("q57_pivot", (s, dir) => {
      val p = t(s, dir, "events")
        .groupBy(col("user_id"))
        .pivot("event_type", Seq("view", "click", "purchase", "signup", "error"))
        .agg(count(lit(1)))
      p.select(col("user_id") +:
        Seq("view", "click", "purchase", "signup", "error")
          .map(c => coalesce(col(c), lit(0L)).as(s"n_$c")): _*)
    },
      """SELECT user_id,
                count(*) FILTER (WHERE event_type = 'view') AS n_view,
                count(*) FILTER (WHERE event_type = 'click') AS n_click,
                count(*) FILTER (WHERE event_type = 'purchase') AS n_purchase,
                count(*) FILTER (WHERE event_type = 'signup') AS n_signup,
                count(*) FILTER (WHERE event_type = 'error') AS n_error
         FROM events GROUP BY user_id"""),

    /** 7-day moving average of daily event value per type — the bounded
      * sliding analytic frame (`rowsBetween(-6, current)`); day totals
      * are rounded before the frame so the frame's add-order is over
      * identical inputs in both engines. */
    QueryDef("q58_moving_avg", (s, dir) => {
      val daily = t(s, dir, "events")
        .groupBy(col("event_type"), col("ts").cast("date").as("day"))
        .agg(round(sum(col("value")), 2).as("day_value"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
        .rowsBetween(-6, Window.currentRow)
      daily.withColumn("ma7", round(avg(col("day_value")).over(w), 4))
    },
      """WITH daily AS (
           SELECT event_type, CAST(ts AS DATE) AS day,
                  round(sum(value), 2) AS day_value
           FROM events GROUP BY 1, 2)
         SELECT event_type, day, day_value,
                round(avg(day_value) OVER (PARTITION BY event_type ORDER BY day
                      ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 4) AS ma7
         FROM daily"""),

    /** Interval join: clicks in the 30 minutes before each purchase,
      * counted per purchase (zero-hit purchases kept). The streaming twin
      * is StreamIntervalJoin (watermarked stream-stream join). */
    QueryDef("q59_interval_join", (s, dir) =>
      EventOps.intervalCount(t(s, dir, "events"),
        probeType = "purchase", refType = "click", windowSeconds = 1800),
      """WITH p AS (SELECT event_id, user_id, ts FROM events
                    WHERE event_type = 'purchase'),
         r AS (SELECT user_id AS ref_user, ts AS ref_ts FROM events
               WHERE event_type = 'click')
         SELECT p.event_id, p.user_id, p.ts, count(r.ref_ts) AS n_ref
         FROM p LEFT JOIN r
           ON p.user_id = r.ref_user
          AND r.ref_ts >= p.ts - INTERVAL 1800 SECOND
          AND r.ref_ts < p.ts
         GROUP BY p.event_id, p.user_id, p.ts"""),

    /** Corpus-frequency word bigrams, top 20 — the LM n-gram counting
      * pass (one BPE-merge-candidate iteration is exactly this shape). */
    QueryDef("q62_bigrams", (s, dir) =>
      t(s, dir, "documents")
        .select(explode(
          graft.functions.WordShingles.word_shingles(col("text"), 2)).as("bigram"))
        .groupBy(col("bigram")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("bigram")).limit(20),
      """SELECT bigram, count(*) AS n FROM (
           SELECT unnest(list_transform(range(1, len(s)),
                  i -> s[i] || ' ' || s[i+1])) AS bigram
           FROM (SELECT string_split(text, ' ') AS s FROM documents))
         GROUP BY bigram
         ORDER BY n DESC, bigram LIMIT 20"""),

    /** Per-language unigram KL divergence vs the corpus over its top-50
      * words — mixture-drift monitoring. */
    QueryDef("q63_lang_divergence", (s, dir) =>
      TextOps.unigramKL(t(s, dir, "documents"), "lang", topN = 50),
      """WITH toks AS (SELECT lang, unnest(string_split(text, ' ')) AS w
                       FROM documents),
         ctf AS (SELECT w, count(*) AS cn FROM toks GROUP BY w),
         ct AS (SELECT count(*) AS ct FROM toks),
         top AS (SELECT w, cn FROM ctf ORDER BY cn DESC, w LIMIT 50),
         lt AS (SELECT lang, count(*) AS lt FROM toks GROUP BY lang),
         ltf AS (SELECT t.lang, t.w, top.cn, count(*) AS ln_
                 FROM toks t JOIN top ON t.w = top.w
                 GROUP BY t.lang, t.w, top.cn)
         SELECT lang, count(*) AS n_terms,
                round(CAST(sum(CAST(round(
                  (CAST(ln_ AS DOUBLE) / lt) *
                  ln((CAST(ln_ AS DOUBLE) / lt) / (CAST(cn AS DOUBLE) / ct))
                  * 100000000) AS BIGINT)) AS BIGINT) / 100000000.0, 4) AS kl
         FROM ltf JOIN lt USING (lang), ct
         GROUP BY lang"""),

    /** Per-type descriptive statistics (count / mean / sample stddev /
      * min / max) — the profiling pass every warehouse exposes. Both
      * engines aggregate identical doubles; results rounded to 4 dp. */
    QueryDef("q60_event_stats", (s, dir) =>
      t(s, dir, "events")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          round(avg(col("value")), 4).as("mean_value"),
          round(stddev_samp(col("value")), 4).as("sd_value"),
          round(min(col("value")), 2).as("min_value"),
          round(max(col("value")), 2).as("max_value")),
      """SELECT event_type, count(*) AS n,
                round(avg(value), 4) AS mean_value,
                round(stddev_samp(value), 4) AS sd_value,
                round(min(value), 2) AS min_value,
                round(max(value), 2) AS max_value
         FROM events GROUP BY event_type"""),

    /** Z-score anomaly counts per type: events whose value deviates more
      * than 3 sample standard deviations from the type mean. The z-score
      * is rounded to 6 dp BEFORE thresholding (the same
      * round-before-decide discipline as the LSH sign bits) so a
      * last-ulp stddev difference can't flip a flag across engines. */
    QueryDef("q61_anomalies", (s, dir) => {
      val ev = t(s, dir, "events")
      val stats = ev.groupBy(col("event_type"))
        .agg(avg(col("value")).as("m"), stddev_samp(col("value")).as("sd"))
      ev.join(broadcast(stats), Seq("event_type"))
        .withColumn("z", round((col("value") - col("m")) / col("sd"), 6))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(when(abs(col("z")) > 3.0, 1L).otherwise(0L)).as("n_outliers"))
    },
      """WITH s AS (
           SELECT event_type, avg(value) AS m, stddev_samp(value) AS sd
           FROM events GROUP BY event_type)
         SELECT e.event_type, count(*) AS n_events,
                CAST(sum(CASE WHEN abs(round((e.value - s.m) / s.sd, 6)) > 3.0
                              THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
         FROM events e JOIN s USING (event_type)
         GROUP BY e.event_type"""),

    /** Distribution ranks over document length per language: quartile
      * bucket (`ntile`), `percent_rank`, `cume_dist` — the remaining
      * analytic rank family (q02/q09 cover dense_rank / row_number / lag
      * / lead). The order key is (n_chars, doc_id) so the total order —
      * and therefore every rank — is engine-independent; the fractional
      * ranks are rounded to 6 dp. */
    QueryDef("q64_dist_ranks", (s, dir) => {
      val w = Window.partitionBy(col("lang")).orderBy(col("n_chars"), col("doc_id"))
      t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"),
          ntile(4).over(w).cast("bigint").as("quartile"),
          round(percent_rank().over(w), 6).as("pct_rank"),
          round(cume_dist().over(w), 6).as("cume"))
    },
      """SELECT doc_id, lang, n_chars,
                CAST(ntile(4) OVER w AS BIGINT) AS quartile,
                round(percent_rank() OVER w, 6) AS pct_rank,
                round(cume_dist() OVER w, 6) AS cume
         FROM documents
         WINDOW w AS (PARTITION BY lang ORDER BY n_chars, doc_id)"""),

    /** CUBE over (lang, source): every cell, both one-dimension margins,
      * and the grand total in ONE shuffle (q56 is the ROLLUP sibling —
      * CUBE adds the per-source margin). `grouping()` flags distinguish a
      * real NULL group member from a subtotal row. */
    QueryDef("q65_cube", (s, dir) =>
      t(s, dir, "documents")
        .cube(col("lang"), col("source"))
        // grouping() must be computed with the cube aggregate itself
        .agg(grouping(col("lang")).cast("bigint").as("g_lang"),
          grouping(col("source")).cast("bigint").as("g_source"),
          count(lit(1)).as("n_docs"),
          round(avg(col("n_chars")), 4).as("avg_chars"))
        .select(col("lang"), col("source"), col("g_lang"), col("g_source"),
          col("n_docs"), col("avg_chars")),
      """SELECT lang, source,
                CAST(GROUPING(lang) AS BIGINT) AS g_lang,
                CAST(GROUPING(source) AS BIGINT) AS g_source,
                count(*) AS n_docs,
                round(avg(n_chars), 4) AS avg_chars
         FROM documents
         GROUP BY CUBE (lang, source)"""),

    /** Set operations: purchase-vs-error user cohorts over the first two
      * days — EXCEPT (purchasers who never errored), INTERSECT (both),
      * and the reverse EXCEPT, tagged into one result. Spark's
      * `except`/`intersect` are the DISTINCT forms, same as SQL. */
    QueryDef("q66_set_ops", (s, dir) => {
      val ev = t(s, dir, "events")
        .filter(col("ts") < lit("2024-01-03 00:00:00").cast("timestamp_ntz"))
      def users(tpe: String) =
        ev.filter(col("event_type") === tpe).select(col("user_id"))
      val p = users("purchase"); val e = users("error")
      p.except(e).select(lit("purchase_only").as("seg"), col("user_id"))
        .unionAll(p.intersect(e).select(lit("both").as("seg"), col("user_id")))
        .unionAll(e.except(p).select(lit("error_only").as("seg"), col("user_id")))
    },
      """WITH ev AS (SELECT * FROM events WHERE ts < TIMESTAMP '2024-01-03'),
         p AS (SELECT user_id FROM ev WHERE event_type = 'purchase'),
         e AS (SELECT user_id FROM ev WHERE event_type = 'error')
         SELECT 'purchase_only' AS seg, user_id FROM (SELECT * FROM p EXCEPT SELECT * FROM e)
         UNION ALL
         SELECT 'both' AS seg, user_id FROM (SELECT * FROM p INTERSECT SELECT * FROM e)
         UNION ALL
         SELECT 'error_only' AS seg, user_id FROM (SELECT * FROM e EXCEPT SELECT * FROM p)"""),

    /** Semi-structured prop extraction: pull `k` out of the JSON `props`
      * string (`get_json_object` — a real JSON-path scan, not a regex),
      * bucket it by tens, and profile each bucket. The JSON parse stays
      * inside the scan projection: no shuffle until the 10-group agg. */
    QueryDef("q67_json_props", (s, dir) =>
      t(s, dir, "events")
        .select(floor(get_json_object(col("props"), "$.k").cast("int") / 10)
          .cast("bigint").as("k_bucket"), col("value"))
        .groupBy(col("k_bucket"))
        .agg(count(lit(1)).as("n"), round(avg(col("value")), 4).as("avg_value")),
      """SELECT CAST(floor(CAST(json_extract(props, '$.k') AS INTEGER) / 10) AS BIGINT)
                  AS k_bucket,
                count(*) AS n,
                round(avg(value), 4) AS avg_value
         FROM events
         GROUP BY 1"""),

    /** Per-domain cap: keep at most 15 docs per source by deterministic
      * salted-hash draw — the over-representation guard of corpus
      * curation (never "first 15 by id", which would bias toward old
      * crawls). */
    QueryDef("q68_domain_cap", (s, dir) =>
      Sampling.groupCap(t(s, dir, "documents"),
        groupCols = Seq("source"), key = col("doc_id"), maxPerGroup = 15)
        .select(col("doc_id"), col("source"), col("grp_rank")),
      """SELECT doc_id, source, rk AS grp_rank FROM (
           SELECT doc_id, source,
                  CAST(ROW_NUMBER() OVER (PARTITION BY source
                       ORDER BY md5('graft-cap:' || CAST(doc_id AS VARCHAR)), doc_id)
                       AS BIGINT) AS rk
           FROM documents)
         WHERE rk <= 15"""),

    /** Containment near-dup pairs (|A∩B|/min(|A|,|B|) ≥ 0.6 on char
      * 4-grams, blocked by lang × source): the asymmetric-length
      * complement to q34's Jaccard — catches a doc embedded inside a
      * longer one. */
    QueryDef("q69_containment", (s, dir) =>
      NgramJaccard.containmentPairsHashed(t(s, dir, "documents"),
        blockCols = Seq("lang", "source"), n = 4, threshold = 0.6),
      // brute-force on the actual 4-gram strings (the Spark side compares
      // xxhash64 arrays — same 2^-64 collision trade q34 documents)
      s"""WITH $char4GramOverlapCtes
         SELECT doc_a, doc_b,
                round(CAST(i AS DOUBLE) / least(sa.n, sb.n), 4) AS containment
         FROM inter
         JOIN sz sa ON sa.doc_id = doc_a
         JOIN sz sb ON sb.doc_id = doc_b
         WHERE CAST(i AS DOUBLE) / least(sa.n, sb.n) >= 0.6"""),

    /** Symmetric int8 embedding quantization audit: per-vector scale +
      * Σ|q| + dequantization SSE — the compression step of an ANN index
      * build, checked numerically against the oracle's replay. */
    QueryDef("q70_quantize", (s, dir) =>
      Similarity.quantizeInt8(t(s, dir, "embeddings")),
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         m AS (SELECT vec_id, v,
                      list_max(list_transform(v, x -> abs(x))) AS max_abs
               FROM e),
         s AS (SELECT vec_id, v, max_abs,
                      CASE WHEN max_abs > 0 THEN 127.0 / max_abs ELSE 1.0 END AS scale
               FROM m),
         q AS (SELECT vec_id, v, max_abs, scale,
                      list_transform(v, x -> CAST(round(x * scale) AS BIGINT)) AS qv
               FROM s)
         SELECT vec_id,
                CAST(len(v) AS BIGINT) AS n_dims,
                round(max_abs, 6) AS max_abs_r,
                CAST(list_sum(list_transform(qv, x -> abs(x))) AS BIGINT) AS sum_abs_q,
                round(list_sum(list_transform(range(1, len(v) + 1),
                      i -> round((v[CAST(i AS INT)] - qv[CAST(i AS INT)] / scale)
                                 * (v[CAST(i AS INT)] - qv[CAST(i AS INT)] / scale), 12))),
                      10) AS sse_r
         FROM q"""),

    /** kNN majority-vote classification: queries (vec_id < 5) labeled by
      * their 10 nearest corpus neighbors (vec_id ≥ 5), exact cosine. */
    QueryDef("q71_knn_classify", (s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.knnClassify(
        e.filter(col("vec_id") < 5), e.filter(col("vec_id") >= 5), k = 10)
    },
      """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
                    FROM embeddings),
         q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 5),
         c AS (SELECT vec_id, label, v FROM e WHERE vec_id >= 5),
         s AS (SELECT q_id, vec_id, label,
                      round(list_cosine_similarity(qv, v), 6) AS sim
               FROM q, c),
         top AS (SELECT q_id, vec_id, label, rank FROM (
                   SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
                           ORDER BY sim DESC, vec_id) AS rank FROM s)
                 WHERE rank <= 10),
         votes AS (SELECT q_id, label, count(*) AS n_votes, min(rank) AS best_rank
                   FROM top GROUP BY q_id, label)
         SELECT q_id, CAST(label AS BIGINT) AS pred_label, n_votes,
                CAST(best_rank AS BIGINT) AS best_rank
         FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
                     ORDER BY n_votes DESC, best_rank, label) AS rn FROM votes)
         WHERE rn = 1"""),

    /** SCD2 change tracking over the first week of events: each user's
      * event-type runs as type-2 validity intervals (valid_from /
      * valid_to / version / is_current). */
    QueryDef("q72_scd2", (s, dir) =>
      EventOps.scd2(t(s, dir, "events")
        .filter(col("ts") < lit("2024-01-08 00:00:00").cast("timestamp_ntz"))),
      """WITH ev AS (SELECT * FROM events
                     WHERE ts < TIMESTAMP '2024-01-08 00:00:00'),
         st AS (
           SELECT user_id, event_type, ts, event_id FROM (
             SELECT user_id, event_type, ts, event_id,
                    lag(event_type) OVER (PARTITION BY user_id
                      ORDER BY ts, event_id) AS prev
             FROM ev)
           WHERE prev IS NULL OR prev <> event_type)
         SELECT user_id, event_type, ts AS valid_from,
                lead(ts) OVER w AS valid_to,
                CAST(ROW_NUMBER() OVER w AS BIGINT) AS version,
                lead(ts) OVER w IS NULL AS is_current
         FROM st
         WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)"""),

    /** Sketch-based distinct counting: exact per-type distinct users next
      * to `approx_count_distinct` (HLL++, rsd 1%) — the oracle checks the
      * sketch's accuracy CONTRACT (within 10% of exact — 10σ at this
      * rsd), not its bit pattern, which is the portable guarantee a
      * sketch offers. At 100 TB the approx form is the only affordable
      * one: it partial-aggregates map-side where count(DISTINCT) must
      * shuffle every key. */
    QueryDef("q73_approx_distinct", (s, dir) =>
      t(s, dir, "events")
        // two-level distinct: dedup (type, user) with map-side partial
        // agg first, then count — ONE shuffle of already-deduped pairs
        // (count(DISTINCT) would expand and shuffle twice); the HLL
        // sketch over the deduped pairs estimates the same set
        .select(col("event_type"), col("user_id")).distinct()
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_exact"),
          approx_count_distinct(col("user_id"), 0.01).as("n_approx"))
        .select(col("event_type"), col("n_exact"),
          (abs(col("n_approx") - col("n_exact")) <=
            col("n_exact") * 0.1).as("approx_ok")),
      """SELECT event_type,
                count(DISTINCT user_id) AS n_exact,
                abs(approx_count_distinct(user_id) - count(DISTINCT user_id))
                  <= count(DISTINCT user_id) * 0.1 AS approx_ok
         FROM events GROUP BY event_type"""),

    /** Two-stage salted aggregation: the skew-proof spelling of
      * groupBy(event_type) — stage 1 aggregates (event_type, salt) so a
      * hot key spreads over 16 reducers, stage 2 folds the 16 partials.
      * Results are identical to the direct aggregation (the oracle is
      * the plain GROUP BY); counts and integer-cent sums stay exact
      * under the two-stage fold. */
    QueryDef("q74_salted_agg", (s, dir) =>
      t(s, dir, "events")
        // value in cents (exact bigint) so the two-stage sum is
        // add-order-free; /100.0 only at the end
        .select(col("event_type"), col("event_id"),
          round(col("value") * 100).cast("bigint").as("cents"))
        .withColumn("graft_salt", pmod(hash(col("event_id")), lit(16)))
        .groupBy(col("event_type"), col("graft_salt"))
        .agg(count(lit(1)).as("pn"), sum(col("cents")).as("pc"))
        .groupBy(col("event_type"))
        .agg(sum(col("pn")).as("n"),
          round(sum(col("pc")) / 100.0, 2).as("sum_value")),
      """SELECT event_type, count(*) AS n,
                round(sum(CAST(round(value * 100) AS BIGINT)) / 100.0, 2) AS sum_value
         FROM events GROUP BY event_type"""),

    /** TPC-H Q5-shaped star join: revenue by nation for one region and
      * one order-date year, across lineitem ⋈ orders ⋈ customer ⋈
      * supplier ⋈ nation ⋈ region with the classic c_nationkey =
      * s_nationkey "local supplier" constraint. The scale shape: ONE
      * fact-fact shuffle (lineitem ⋈ filtered orders); every dimension
      * side is an explicit broadcast, so the five-table chain adds zero
      * further exchanges. Per-item revenue is rounded to exact cents
      * before the sum (add-order-free across engines). */
    QueryDef("q75_star_join", (s, dir) => {
      val li = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1996-01-01 00:00:00").cast("timestamp_ntz")
          && col("o_orderdate") < lit("1997-01-01 00:00:00").cast("timestamp_ntz"))
        .select(col("o_orderkey"), col("o_custkey"))
      val c = t(s, dir, "customer").select(col("c_custkey"), col("c_nationkey"))
      val su = t(s, dir, "supplier").select(col("s_suppkey"), col("s_nationkey"))
      val n = t(s, dir, "nation")
      val r = t(s, dir, "region").filter(col("r_name") === "ASIA")
      li.select(col("l_orderkey"), col("l_suppkey"),
          round(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100)
            .cast("bigint").as("rev_cents"))
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .join(broadcast(su), col("l_suppkey") === col("s_suppkey")
          && col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_items"),
          round(sum(col("rev_cents")) / 100.0, 2).as("revenue"))
    },
      """SELECT n_name, count(*) AS n_items,
                round(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                          AS BIGINT)) / 100.0, 2) AS revenue
         FROM lineitem
         JOIN orders   ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
         JOIN nation   ON s_nationkey = n_nationkey
         JOIN region   ON n_regionkey = r_regionkey
         WHERE r_name = 'ASIA'
           AND o_orderdate >= TIMESTAMP '1996-01-01'
           AND o_orderdate <  TIMESTAMP '1997-01-01'
         GROUP BY n_name"""),

    /** Keep-best dedup: q35's near-dup groups, but the keeper is the
      * member with the highest quality score (ties → smallest id) — what
      * a curation pass actually keeps. */
    QueryDef("q76_dedup_keep_best", (s, dir) => {
      val docs = t(s, dir, "documents")
      DedupGroups.dedupGroupsKeepBest(docs,
        TextOps.qualityFeatures(docs), "quality_score_bp", threshold = 0.2)
    },
      // q35's full LSH + recursive-CC chain, with the keeper re-chosen by
      // q21's quality composite (argmax per group, ties min doc_id)
      s"""WITH RECURSIVE $minhashComponentCtes,
         grp AS (SELECT doc_id, min(r) AS group_id FROM reach GROUP BY doc_id),
         qual AS (
           SELECT doc_id,
                  $qualityScoreBp AS score
           FROM documents)
         SELECT doc_id, group_id, score,
                ROW_NUMBER() OVER (PARTITION BY group_id
                  ORDER BY score DESC, doc_id) = 1 AS keep
         FROM grp JOIN qual USING (doc_id)"""),

    QueryDef("q77_fuzzy_pairs", fuzzyPairs,
      """WITH p AS (SELECT doc_id, lang, source, substr(text, 1, 24) AS pre
                    FROM documents)
         SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                CAST(levenshtein(a.pre, b.pre) AS BIGINT) AS edit_dist
         FROM p a JOIN p b
           ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
         WHERE levenshtein(a.pre, b.pre) <= 14"""),

    /** Count-min sketch point queries: deterministic md5-bucket counters
      * (4×256), estimates vs exact counts with the sketch's one-sided
      * guarantee (`n_est ≥ n_exact`) checked as a column. The counter
      * table is replayed bit-for-bit by the oracle — this checks the
      * sketch's actual arithmetic, not just its contract. */
    QueryDef("q78_countmin", (s, dir) => {
      import s.implicits._
      val toks = t(s, dir, "documents")
        .select(explode(split(col("text"), " ")).as("term"))
      val sketch = Sketches.countMinBuild(toks, "term", depth = 4)
      val queryTerms = Seq("spark", "merge", "window", "the", "zzznope").toDF("term")
      val est = Sketches.countMinQuery(sketch, queryTerms, "term")
      val exact = toks.filter(col("term").isin("spark", "merge", "window", "the", "zzznope"))
        .groupBy(col("term")).agg(count(lit(1)).as("n_exact"))
      est.join(exact, Seq("term"), "left")
        .select(col("term"),
          coalesce(col("n_exact"), lit(0L)).as("n_exact"),
          col("n_est"),
          (col("n_est") >= coalesce(col("n_exact"), lit(0L))).as("sketch_ok"))
    },
      """WITH toks AS (SELECT unnest(string_split(text, ' ')) AS term
                       FROM documents),
         cm AS (
           SELECT j,
                  CAST((instr('0123456789abcdef',
                         substr(md5(CAST(j AS VARCHAR) || ':' || term), 1, 1)) - 1) * 16
                       + instr('0123456789abcdef',
                         substr(md5(CAST(j AS VARCHAR) || ':' || term), 2, 1)) - 1
                       AS BIGINT) AS bucket,
                  count(*) AS cnt
           FROM toks, (SELECT unnest(range(0, 4)) AS j) GROUP BY 1, 2),
         q(term) AS (VALUES ('spark'), ('merge'), ('window'), ('the'), ('zzznope')),
         qb AS (
           SELECT term, j,
                  CAST((instr('0123456789abcdef',
                         substr(md5(CAST(j AS VARCHAR) || ':' || term), 1, 1)) - 1) * 16
                       + instr('0123456789abcdef',
                         substr(md5(CAST(j AS VARCHAR) || ':' || term), 2, 1)) - 1
                       AS BIGINT) AS bucket
           FROM q, (SELECT unnest(range(0, 4)) AS j)),
         est AS (
           SELECT term, min(coalesce(cnt, 0)) AS n_est
           FROM qb LEFT JOIN cm USING (j, bucket) GROUP BY term),
         ex AS (SELECT term, count(*) AS n FROM toks
                WHERE term IN ('spark', 'merge', 'window', 'the', 'zzznope')
                GROUP BY term)
         SELECT est.term, coalesce(ex.n, 0) AS n_exact, est.n_est,
                est.n_est >= coalesce(ex.n, 0) AS sketch_ok
         FROM est LEFT JOIN ex USING (term)"""),

    /** Quality-weighted sampling: keep probability grows with document
      * length (min(n_chars/3000, 1)) — the "sample proportional to
      * quality" curation draw, deterministic and oracle-replayable. */
    QueryDef("q79_weighted_sample", (s, dir) => {
      val docs = t(s, dir, "documents")
      Sampling.weightedSample(docs, col("doc_id"),
        least(col("n_chars") / 3000.0, lit(1.0)))
        .select(col("doc_id"), col("lang"),
          floor(least(col("n_chars") / 3000.0, lit(1.0)) * 10000)
            .cast("bigint").as("w_bp"))
    },
      """WITH w AS (
           SELECT doc_id, lang,
                  least(n_chars / 3000.0, 1.0) AS wt,
                  md5('graft-weight:' || CAST(doc_id AS VARCHAR)) AS h
           FROM documents),
         v AS (
           SELECT doc_id, lang, wt,
                  CAST((((instr('0123456789abcdef', substr(h, 1, 1)) - 1) * 16
                         + instr('0123456789abcdef', substr(h, 2, 1)) - 1) * 256
                        + (instr('0123456789abcdef', substr(h, 3, 1)) - 1) * 16
                        + instr('0123456789abcdef', substr(h, 4, 1)) - 1)
                       AS BIGINT) AS h16
           FROM w)
         SELECT doc_id, lang, CAST(floor(wt * 10000) AS BIGINT) AS w_bp
         FROM v WHERE h16 < floor(wt * 65536)"""),

    /** Exactly-100 deterministic global sample via salted-hash order —
      * plans as TakeOrderedAndProject, no global sort. */
    QueryDef("q80_fixed_sample", (s, dir) =>
      Sampling.fixedSample(t(s, dir, "documents"), col("doc_id"), n = 100)
        .select(col("doc_id"), col("lang"), col("source")),
      """SELECT doc_id, lang, source FROM documents
         ORDER BY md5('graft-fixed:' || CAST(doc_id AS VARCHAR)), doc_id
         LIMIT 100"""),

    /** Full outer join: daily purchase vs error counts — days with only
      * one side present survive with the other side coalesced to 0 (the
      * remaining join type q04/q05/q07 don't cover). */
    QueryDef("q81_full_outer", (s, dir) => {
      val ev = t(s, dir, "events")
      def daily(tpe: String, out: String) =
        ev.filter(col("event_type") === tpe)
          .groupBy(col("ts").cast("date").as("day"))
          .agg(count(lit(1)).as(out))
      daily("purchase", "n_purchase")
        .join(daily("error", "n_error"), Seq("day"), "full")
        .select(col("day"),
          coalesce(col("n_purchase"), lit(0L)).as("n_purchase"),
          coalesce(col("n_error"), lit(0L)).as("n_error"))
    },
      """WITH p AS (SELECT CAST(ts AS DATE) AS day, count(*) AS n_purchase
                    FROM events WHERE event_type = 'purchase' GROUP BY 1),
         e AS (SELECT CAST(ts AS DATE) AS day, count(*) AS n_error
               FROM events WHERE event_type = 'error' GROUP BY 1)
         SELECT day, coalesce(n_purchase, 0) AS n_purchase,
                coalesce(n_error, 0) AS n_error
         FROM p FULL OUTER JOIN e USING (day)"""),

    /** Window navigation: each user's first, last, and second event type
      * over the full per-user frame (first_value / last_value /
      * nth_value — the analytic-navigation family q09's lag/lead row
      * offsets don't cover). */
    QueryDef("q82_window_nav", (s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      val wOrd = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      t(s, dir, "events")
        .select(col("user_id"),
          first(col("event_type")).over(w).as("first_et"),
          last(col("event_type")).over(w).as("last_et"),
          nth_value(col("event_type"), 2).over(w).as("second_et"),
          row_number().over(wOrd).as("graft_rn"))
        .filter(col("graft_rn") === 1)
        .drop("graft_rn")
    },
      """SELECT user_id,
                first_value(event_type) OVER w AS first_et,
                last_value(event_type) OVER w AS last_et,
                nth_value(event_type, 2) OVER w AS second_et
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
         QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) = 1"""),

    /** Correlation profile: per-type Pearson corr and sample covariance
      * between the event value and its JSON `k` prop — the statistical
      * co-moment aggregates (both engines accumulate co-moments; results
      * rounded to 6 dp before compare). */
    QueryDef("q83_correlation", (s, dir) =>
      t(s, dir, "events")
        .select(col("event_type"), col("value"),
          get_json_object(col("props"), "$.k").cast("int").cast("double").as("k"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          round(corr(col("value"), col("k")), 6).as("corr_vk"),
          round(covar_samp(col("value"), col("k")), 6).as("covar_vk")),
      """SELECT event_type, count(*) AS n,
                round(corr(value, CAST(json_extract(props, '$.k') AS INTEGER)), 6)
                  AS corr_vk,
                round(covar_samp(value, CAST(json_extract(props, '$.k') AS INTEGER)), 6)
                  AS covar_vk
         FROM events GROUP BY event_type"""),

    /** Perplexity-filter signal: per-doc mean bigram log-prob under the
      * corpus's own add-half-smoothed bigram LM (docs far below the norm
      * are gibberish, far above are boilerplate — the classic LM-data
      * quality gate). */
    QueryDef("q84_lm_logprob", (s, dir) =>
      TextOps.bigramLogprob(t(s, dir, "documents")),
      """WITH bg AS (
           SELECT doc_id,
                  unnest(list_transform(range(1, len(s)),
                         i -> s[i] || ' ' || s[i+1])) AS bg
           FROM (SELECT doc_id, string_split(text, ' ') AS s FROM documents)),
         cb AS (SELECT bg, count(*) AS cb FROM bg GROUP BY bg),
         cw AS (SELECT w, count(*) AS cw FROM
                  (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
                GROUP BY w),
         v AS (SELECT count(DISTINCT w) AS vsz FROM
                 (SELECT unnest(string_split(text, ' ')) AS w FROM documents)),
         lm AS (
           SELECT cb.bg,
                  round(ln((cb + 0.5) / (cw + 0.5 * vsz)), 8) AS logp
           FROM cb JOIN cw ON split_part(cb.bg, ' ', 1) = cw.w, v)
         SELECT doc_id, count(*) AS n_bigrams,
                round(CAST(sum(CAST(round(logp * 100000000) AS BIGINT))
                           AS BIGINT)
                      / (count(logp) * 100000000.0), 4) AS avg_logp
         FROM bg JOIN lm USING (bg)
         GROUP BY doc_id"""),

    /** Bloom-prefilter decontamination (q43's complement at eval-set
      * scale): the eval set's 6-gram hashes become a fixed-size bloom
      * probed inside the corpus scan; only bloom survivors pay the exact
      * verify join, and the OUTPUT — the clean corpus — is exact. Eval
      * set: doc_id ≡ 7 (mod 50) standing in for a benchmark table. */
    QueryDef("q85_bloom_clean", (s, dir) => {
      val docs = t(s, dir, "documents")
      Decontaminate.bloomClean(
        docs.filter(col("doc_id") % 50 =!= 7),
        docs.filter(col("doc_id") % 50 === 7), n = 6)
        .select(col("doc_id"), col("lang"), col("source"))
    },
      s"""WITH $word6ShingleCte,
         ev AS (SELECT DISTINCT sh FROM sh WHERE doc_id % 50 = 7),
         dirty AS (SELECT DISTINCT doc_id FROM sh JOIN ev USING (sh)
                   WHERE doc_id % 50 <> 7)
         SELECT doc_id, lang, source FROM documents
         WHERE doc_id % 50 <> 7
           AND doc_id NOT IN (SELECT doc_id FROM dirty)"""),

    /** Trailing 7-DAY time-RANGE frame (value-based, gaps-aware — q58's
      * ROWS frame counts 7 ROWS regardless of calendar gaps; this one
      * bounds the frame by the ORDER key's VALUE, so missing days shrink
      * the window). Day revenue is exact cents, the ordering key is the
      * epoch day — identical integer RANGE semantics in both engines. */
    QueryDef("q86_range_frame", (s, dir) => {
      val daily = t(s, dir, "events")
        .groupBy(col("event_type"), col("ts").cast("date").as("day"))
        .agg(count(lit(1)).as("n"),
          sum(round(col("value") * 100).cast("bigint")).as("day_cents"))
        .withColumn("epoch_day",
          datediff(col("day"), lit("1970-01-01").cast("date")).cast("long"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("epoch_day"))
        .rangeBetween(-6, Window.currentRow)
      daily
        .withColumn("sum_7d_cents", sum(col("day_cents")).over(w))
        .withColumn("n_days_7d", count(lit(1)).over(w).cast("bigint"))
        .select(col("event_type"), col("day"), col("n"), col("day_cents"),
          col("sum_7d_cents"), col("n_days_7d"))
    },
      """WITH daily AS (
           SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n,
                  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                    AS day_cents
           FROM events GROUP BY 1, 2)
         SELECT event_type, day, n, day_cents,
                CAST(sum(day_cents) OVER w AS BIGINT) AS sum_7d_cents,
                CAST(count(*) OVER w AS BIGINT) AS n_days_7d
         FROM daily
         WINDOW w AS (PARTITION BY event_type
                      ORDER BY (day - DATE '1970-01-01')
                      RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)"""),

    /** PageRank (3 unrolled iterations, integer micro-unit ranks) over
      * the part↔supplier bipartite graph — iterative graph propagation
      * as co-partitioned DataFrame joins; the oracle replays the exact
      * recurrence. */
    QueryDef("q87_pagerank", (s, dir) =>
      // long node ids through the rounds (1.3-2.4× at 30×, see
      // Graph.bipartiteEdgesLong), decoded to the oracle's "p…"/"s…"
      // strings only in the final projection — rank sums never order ids
      Graph.pageRank(
        Graph.bipartiteEdgesLong(t(s, dir, "lineitem"),
          "l_partkey", "l_suppkey"),
        iterations = 3)
        .select(Graph.decodeBipartite(col("node"), "p", "s").as("node"),
          col("rank").as("pr")),
      s"""WITH $bipartiteEdgeCtes,
         deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
         r0 AS (SELECT src AS node, CAST(1000000 AS BIGINT) AS pr FROM deg),
         it1 AS (SELECT e.dst AS node,
                        150000 + sum((r.pr * 85) // (100 * d.deg)) AS pr
                 FROM edges e JOIN r0 r ON r.node = e.src
                 JOIN deg d ON d.src = e.src GROUP BY e.dst),
         it2 AS (SELECT e.dst AS node,
                        150000 + sum((r.pr * 85) // (100 * d.deg)) AS pr
                 FROM edges e JOIN it1 r ON r.node = e.src
                 JOIN deg d ON d.src = e.src GROUP BY e.dst),
         it3 AS (SELECT e.dst AS node,
                        150000 + sum((r.pr * 85) // (100 * d.deg)) AS pr
                 FROM edges e JOIN it2 r ON r.node = e.src
                 JOIN deg d ON d.src = e.src GROUP BY e.dst)
         SELECT node, CAST(pr AS BIGINT) AS pr FROM it3"""),

    /** Weighted PageRank: q87's graph keeping pair multiplicity as the
      * edge weight — a supplier's rank share is proportional to how
      * often it actually ships the part. */
    QueryDef("q108_pagerank_weighted", (s, dir) =>
      Graph.pageRankWeighted(
        Graph.bipartiteEdgesLongWeighted(t(s, dir, "lineitem"),
          "l_partkey", "l_suppkey"),
        iterations = 3)
        .select(Graph.decodeBipartite(col("node"), "p", "s").as("node"),
          col("rank").as("pr")),
      """WITH pairs AS (
           SELECT 'p' || CAST(l_partkey AS VARCHAR) AS a,
                  's' || CAST(l_suppkey AS VARCHAR) AS b,
                  count(*) AS w
           FROM lineitem GROUP BY 1, 2),
         edges AS (SELECT a AS src, b AS dst, w FROM pairs
                   UNION ALL SELECT b, a, w FROM pairs),
         ws AS (SELECT src, CAST(sum(w) AS BIGINT) AS wsum
                FROM edges GROUP BY src),
         r0 AS (SELECT src AS node, CAST(1000000 AS BIGINT) AS pr FROM ws),
         it1 AS (SELECT e.dst AS node,
                        150000 + sum((r.pr * 85 * e.w) // (100 * d.wsum)) AS pr
                 FROM edges e JOIN r0 r ON r.node = e.src
                 JOIN ws d ON d.src = e.src GROUP BY e.dst),
         it2 AS (SELECT e.dst AS node,
                        150000 + sum((r.pr * 85 * e.w) // (100 * d.wsum)) AS pr
                 FROM edges e JOIN it1 r ON r.node = e.src
                 JOIN ws d ON d.src = e.src GROUP BY e.dst),
         it3 AS (SELECT e.dst AS node,
                        150000 + sum((r.pr * 85 * e.w) // (100 * d.wsum)) AS pr
                 FROM edges e JOIN it2 r ON r.node = e.src
                 JOIN ws d ON d.src = e.src GROUP BY e.dst)
         SELECT node, CAST(pr AS BIGINT) AS pr FROM it3"""),

    /** First-order Markov next-event model: per-(src → dst) transition
      * counts and conditional probability in basis points. */
    QueryDef("q88_markov", (s, dir) =>
      EventOps.markovTransitions(t(s, dir, "events")),
      """WITH tr AS (
           SELECT lag(event_type) OVER (PARTITION BY user_id
                    ORDER BY ts, event_id) AS src_et,
                  event_type AS dst_et
           FROM events),
         c AS (SELECT src_et, dst_et, count(*) AS n FROM tr
               WHERE src_et IS NOT NULL GROUP BY src_et, dst_et)
         SELECT src_et, dst_et, n,
                CAST((n * 10000) // sum(n) OVER (PARTITION BY src_et)
                     AS BIGINT) AS p_bp
         FROM c"""),

    /** Inverted-index build: df / cf / capped sorted postings per term,
      * top-20 terms by document frequency. */
    QueryDef("q89_inverted_index", (s, dir) =>
      Retrieval.invertedIndex(t(s, dir, "documents"), topTerms = 20, postingCap = 10),
      """WITH td AS (
           SELECT term, doc_id, count(*) AS tf FROM
             (SELECT doc_id, unnest(string_split(text, ' ')) AS term
              FROM documents)
           GROUP BY term, doc_id)
         SELECT term, count(*) AS df, CAST(sum(tf) AS BIGINT) AS cf,
                array_to_string((list_sort(list(doc_id)))[1:10], ',')
                  AS postings_head
         FROM td GROUP BY term
         ORDER BY df DESC, term LIMIT 20"""),

    /** CDC changelog apply: events mapped to an I/U/D log per user
      * (signup=I, error=D, rest=U), last op wins, trailing deletes drop
      * the key — the lakehouse MERGE-from-log shape. */
    QueryDef("q90_cdc_apply", (s, dir) => {
      val log = t(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"),
          when(col("event_type") === "signup", "I")
            .when(col("event_type") === "error", "D")
            .otherwise("U").as("op"),
          round(col("value") * 100).cast("bigint").as("value_cents"))
      EventOps.cdcApply(log, "user_id", "op")
        .select(col("user_id"), col("op"), col("ts").as("updated_at"),
          col("value_cents"))
    },
      """WITH cl AS (
           SELECT user_id, ts, event_id,
                  CASE event_type WHEN 'signup' THEN 'I'
                       WHEN 'error' THEN 'D' ELSE 'U' END AS op,
                  CAST(round(value * 100) AS BIGINT) AS value_cents
           FROM events),
         rn AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                  ORDER BY ts DESC, event_id DESC) AS r FROM cl)
         SELECT user_id, op, ts AS updated_at, value_cents
         FROM rn WHERE r = 1 AND op <> 'D'"""),

    /** Approx-percentile accuracy contract (q73's pattern for quantiles):
      * exact interpolated p50/p90 per language next to approx_percentile
      * at accuracy 10k, with |approx − exact| ≤ 5% asserted as columns.
      * At 100 TB the approx sketch is the only affordable path; this
      * query is the gate that keeps it honest. */
    QueryDef("q91_percentile_contract", (s, dir) =>
      t(s, dir, "documents")
        .groupBy(col("lang"))
        .agg(
          round(expr("percentile(n_chars, 0.5)"), 2).as("p50_exact"),
          round(expr("percentile(n_chars, 0.9)"), 2).as("p90_exact"),
          expr("approx_percentile(n_chars, 0.5, 10000)").as("graft_ap50"),
          expr("approx_percentile(n_chars, 0.9, 10000)").as("graft_ap90"))
        .select(col("lang"), col("p50_exact"), col("p90_exact"),
          (abs(col("graft_ap50") - col("p50_exact")) <= col("p50_exact") * 0.05)
            .as("p50_ok"),
          (abs(col("graft_ap90") - col("p90_exact")) <= col("p90_exact") * 0.05)
            .as("p90_ok")),
      // the *_ok booleans are the contract: the oracle asserts them true,
      // so an approx sketch drifting past 5% fails the hash compare
      """SELECT lang,
                round(quantile_cont(n_chars, 0.5), 2) AS p50_exact,
                round(quantile_cont(n_chars, 0.9), 2) AS p90_exact,
                true AS p50_ok, true AS p90_ok
         FROM documents GROUP BY lang"""),

    /** Embedding outlier prune (the vector-space quality gate): cosine of
      * every vector to its own cluster centroid, bottom decile flagged.
      * Complements q53 (nearest-centroid assignment) and q28 (pairwise
      * near-dup): this is the "drop what's far from every mode" signal. */
    QueryDef("q92_centroid_outliers", (s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.centroidOutliers(e, Similarity.centroids(e), frac = 0.1)
    },
      s"""WITH $embeddingCentroidCtes,
         scored AS (
           SELECT e.vec_id, e.label,
                  round(list_cosine_similarity(e.v, c.centroid), 6) AS cos_c
           FROM e JOIN cent c ON e.label = c.label)
         SELECT vec_id, label, cos_c,
                percent_rank() OVER (PARTITION BY label
                  ORDER BY cos_c, vec_id) < 0.1 AS is_outlier
         FROM scored"""),

    /** Value histogram per event type (fixed width-10 bins) — the
      * profiling pass that sizes every downstream decision. Bin ids and
      * counts are integers; bin edges are engine-exact floors. */
    QueryDef("q93_histogram", (s, dir) =>
      t(s, dir, "events")
        .groupBy(col("event_type"),
          floor(col("value") / 10).cast("bigint").as("bin"))
        .agg(count(lit(1)).as("n"),
          round(min(col("value")), 2).as("min_v"),
          round(max(col("value")), 2).as("max_v")),
      """SELECT event_type, CAST(floor(value / 10) AS BIGINT) AS bin,
                count(*) AS n,
                round(min(value), 2) AS min_v, round(max(value), 2) AS max_v
         FROM events GROUP BY 1, 2"""),

    /** Per-language fixed-size sample: exactly min(20, n) docs per lang
      * by salted-md5 order — the balanced eval-set draw (q80's global
      * exactly-n, stratified). The rank window is partitioned by lang, so
      * no global ordering exists anywhere in the plan. */
    QueryDef("q94_stratified_fixed", (s, dir) => {
      val w = Window.partitionBy(col("lang"))
        .orderBy(md5(concat(lit("graft-strat:"), col("doc_id").cast("string"))),
          col("doc_id"))
      t(s, dir, "documents")
        .withColumn("pick", row_number().over(w).cast("bigint"))
        .filter(col("pick") <= 20)
        .select(col("doc_id"), col("lang"), col("pick"))
    },
      """SELECT doc_id, lang, CAST(rn AS BIGINT) AS pick FROM (
           SELECT doc_id, lang,
                  ROW_NUMBER() OVER (PARTITION BY lang
                    ORDER BY md5('graft-strat:' || CAST(doc_id AS VARCHAR)),
                             doc_id) AS rn
           FROM documents)
         WHERE rn <= 20"""),

    /** Duration-weighted average value per user — each reading weighted
      * by how long it stayed current (irregular-sample metrics done
      * right; a plain avg over-weights burst periods). */
    QueryDef("q95_time_weighted", (s, dir) =>
      EventOps.timeWeightedAvg(t(s, dir, "events")),
      """WITH e AS (
           SELECT user_id, CAST(round(value * 100) AS BIGINT) AS cents,
                  epoch_us(ts) // 1000000 AS sec,
                  lead(epoch_us(ts) // 1000000) OVER (PARTITION BY user_id
                    ORDER BY ts, event_id) AS nxt
           FROM events)
         SELECT user_id, count(*) AS n_held,
                CAST(sum(nxt - sec) AS BIGINT) AS held_seconds,
                CAST(CASE WHEN sum(nxt - sec) > 0
                     THEN (sum(cents * (nxt - sec)) * 100) // sum(nxt - sec)
                     END AS BIGINT) AS twa_bp
         FROM e WHERE nxt IS NOT NULL
         GROUP BY user_id"""),

    /** Gaps-and-islands: consecutive-active-day streaks per user
      * (row_number-difference runs), longest and most recent streak. */
    QueryDef("q96_streaks", (s, dir) =>
      EventOps.activityStreaks(t(s, dir, "events")),
      """WITH days AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
                       FROM events),
         runs AS (
           SELECT user_id, day,
                  (day - DATE '1970-01-01')
                    - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day)
                    AS grp
           FROM days),
         st AS (SELECT user_id, grp, count(*) AS len, max(day) AS streak_end
                FROM runs GROUP BY user_id, grp)
         SELECT user_id, count(*) AS n_streaks,
                CAST(max(len) AS BIGINT) AS longest_streak,
                CAST(arg_max(len, streak_end) AS BIGINT) AS last_streak_len
         FROM st GROUP BY user_id"""),

    /** Bounded BFS over the part↔supplier graph: hop distance from the
      * source suppliers (suppkey 1-4; TPC-H keys are 1-based), 3
      * frontier rounds — min-propagation (the other Pregel shape next
      * to q87's sum-propagation). */
    QueryDef("q97_bfs_hops", (s, dir) => {
      val li = t(s, dir, "lineitem")
      // long ids through the frontier rounds (hop minima never order
      // ids), decoded in the final projection — see q87
      val sources = li.filter(col("l_suppkey") < 5)
        .select(Graph.encodeRight(col("l_suppkey")).as("node"))
        .distinct()
      Graph.bfsHops(
        Graph.bipartiteEdgesLong(li, "l_partkey", "l_suppkey"),
        sources, rounds = 3)
        .select(Graph.decodeBipartite(col("node"), "p", "s").as("node"),
          col("hop"))
    },
      s"""WITH $bipartiteEdgeCtes,
         h0 AS (SELECT DISTINCT 's' || CAST(l_suppkey AS VARCHAR) AS node,
                       CAST(0 AS BIGINT) AS hop
                FROM lineitem WHERE l_suppkey < 5),
         h1 AS (SELECT node, min(hop) AS hop FROM (
                  SELECT node, hop FROM h0
                  UNION ALL
                  SELECT e.dst, h.hop + 1 FROM edges e
                  JOIN h0 h ON h.node = e.src) GROUP BY node),
         h2 AS (SELECT node, min(hop) AS hop FROM (
                  SELECT node, hop FROM h1
                  UNION ALL
                  SELECT e.dst, h.hop + 1 FROM edges e
                  JOIN h1 h ON h.node = e.src) GROUP BY node),
         h3 AS (SELECT node, min(hop) AS hop FROM (
                  SELECT node, hop FROM h2
                  UNION ALL
                  SELECT e.dst, h.hop + 1 FROM edges e
                  JOIN h2 h ON h.node = e.src) GROUP BY node)
         SELECT node, CAST(hop AS BIGINT) AS hop FROM h3"""),

    /** Reconciliation band join: error events matched to same-day
      * purchases of similar amount (|Δ| ≤ 200 cents), decomposed into an
      * equi-join on (day, amount-bucket ± 1) + an exact band filter —
      * the standard way to run a numeric range join as a hash join (no
      * nested loop anywhere; Spark has no native band-join operator). */
    QueryDef("q98_band_join", (s, dir) => {
      val ev = t(s, dir, "events")
      def side(tpe: String, idc: String, vc: String) = ev
        .filter(col("event_type") === tpe)
        .select(col("event_id").as(idc), col("ts").cast("date").as("day"),
          round(col("value") * 100).cast("bigint").as(vc))
      val a = side("purchase", "a_id", "a_cents")
        .filter(col("a_cents") < 2000) // small purchases: the band's hot range
      val b = side("error", "b_id", "b_cents")
      // each probe explodes to its own bucket ± 1, so every true band
      // match shares an equi-key with its partner (div, not /: the
      // bucket id must be integral)
      val aB = a.withColumn("bucket",
        explode(array((-1 to 1).map(d => expr(s"(a_cents div 200) + $d")): _*)))
      val bB = b.withColumn("bucket", expr("b_cents div 200"))
      // no dedup needed: the probe side carries ONE bucket and the three
      // exploded buckets are distinct, so a pair can match at most once
      aB.join(bB, Seq("day", "bucket"))
        .filter(abs(col("a_cents") - col("b_cents")) <= 200)
        .select(col("a_id"), col("b_id"), col("day"),
          (col("a_cents") - col("b_cents")).as("diff_cents"))
    },
      """WITH a AS (SELECT event_id AS a_id, CAST(ts AS DATE) AS day,
                           CAST(round(value * 100) AS BIGINT) AS a_cents
                    FROM events WHERE event_type = 'purchase'
                      AND CAST(round(value * 100) AS BIGINT) < 2000),
         b AS (SELECT event_id AS b_id, CAST(ts AS DATE) AS day,
                      CAST(round(value * 100) AS BIGINT) AS b_cents
               FROM events WHERE event_type = 'error')
         SELECT a_id, b_id, day, a_cents - b_cents AS diff_cents
         FROM a JOIN b USING (day)
         WHERE abs(a_cents - b_cents) <= 200"""),

    /** Equi-depth histogram (q93's fixed-width twin): ntile(10) buckets
      * per event type over an engine-stable total order, per-bucket
      * count and value range. */
    QueryDef("q99_equi_depth", (s, dir) => {
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("value"), col("event_id"))
      t(s, dir, "events")
        .select(col("event_type"), col("value"), col("event_id"),
          ntile(10).over(w).cast("bigint").as("bucket"))
        .groupBy(col("event_type"), col("bucket"))
        .agg(count(lit(1)).as("n"),
          round(min(col("value")), 2).as("lo"),
          round(max(col("value")), 2).as("hi"))
    },
      """SELECT event_type, bucket, count(*) AS n,
                round(min(value), 2) AS lo, round(max(value), 2) AS hi
         FROM (SELECT event_type, value,
                      CAST(ntile(10) OVER (PARTITION BY event_type
                        ORDER BY value, event_id) AS BIGINT) AS bucket
               FROM events)
         GROUP BY event_type, bucket"""),

    /** Ratio-to-report: each nation's share of its region's revenue in
      * basis points (window sum over the region, integer floor division
      * — the classic BI share-of-total spelling). */
    QueryDef("q100_share_of_total", (s, dir) => {
      val li = t(s, dir, "lineitem")
      val su = t(s, dir, "supplier").select(col("s_suppkey"), col("s_nationkey"))
      val n = t(s, dir, "nation")
      val r = t(s, dir, "region")
      val perNation = li
        .select(col("l_suppkey"),
          round(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100)
            .cast("bigint").as("cents"))
        .join(broadcast(su), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(sum(col("cents")).as("nation_cents"))
      val w = Window.partitionBy(col("r_name"))
      perNation
        .withColumn("graft_region_cents", sum(col("nation_cents")).over(w))
        .withColumn("share_bp",
          expr("(nation_cents * 10000) div graft_region_cents"))
        .select(col("r_name"), col("n_name"), col("nation_cents"), col("share_bp"))
    },
      """WITH pn AS (
           SELECT r_name, n_name,
                  CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                           AS BIGINT)) AS BIGINT) AS nation_cents
           FROM lineitem
           JOIN supplier ON l_suppkey = s_suppkey
           JOIN nation   ON s_nationkey = n_nationkey
           JOIN region   ON n_regionkey = r_regionkey
           GROUP BY r_name, n_name)
         SELECT r_name, n_name, nation_cents,
                CAST((nation_cents * 10000)
                     // sum(nation_cents) OVER (PARTITION BY r_name)
                     AS BIGINT) AS share_bp
         FROM pn"""),

    /** Entity resolution, composed from the shipped parts: blocked fuzzy
      * pairs (q77's levenshtein matcher) → connected components (q35's
      * CC) → min-id entity keeper. The record-linkage flagship: "these N
      * rows are the same real-world thing, keep one". */
    QueryDef("q101_entity_resolution", (s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = fuzzyPairs(s, dir).select(col("doc_a"), col("doc_b"))
      val groups = DedupGroups.connectedComponents(pairs)
        .select(col("doc_id"), col("group_id").as("entity_id"))
      val w = Window.partitionBy(col("entity_id"))
      docs.select(col("doc_id"))
        .join(groups, Seq("doc_id"), "left")
        .withColumn("entity_id", coalesce(col("entity_id"), col("doc_id")))
        .withColumn("n_members", count(lit(1)).over(w))
        .withColumn("keep", col("doc_id") === col("entity_id"))
    },
      """WITH RECURSIVE p AS (
           SELECT doc_id, lang, source, substr(text, 1, 24) AS pre
           FROM documents),
         pairs AS (
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
           FROM p a JOIN p b
             ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
           WHERE levenshtein(a.pre, b.pre) <= 14),
         edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
                   UNION ALL SELECT doc_b, doc_a FROM pairs),
         reach(doc_id, r) AS (
           SELECT DISTINCT src, src FROM edges
           UNION
           SELECT e.src, reach.r FROM edges e JOIN reach ON reach.doc_id = e.dst),
         grp AS (SELECT doc_id, min(r) AS entity_id FROM reach GROUP BY doc_id)
         SELECT d.doc_id, coalesce(g.entity_id, d.doc_id) AS entity_id,
                count(*) OVER (PARTITION BY coalesce(g.entity_id, d.doc_id))
                  AS n_members,
                d.doc_id = coalesce(g.entity_id, d.doc_id) AS keep
         FROM documents d LEFT JOIN grp g ON d.doc_id = g.doc_id"""),

    /** Label propagation over the part↔supplier graph, 2 synchronized
      * rounds — community detection (argmax propagation; q87 is sum,
      * q97 is min). The rounds run on ORDER-PRESERVING long ids
      * (Graph.bipartiteEdgesOrderedLong): long order == node-string
      * order bit-exactly, so the min-label tie-break is unchanged while
      * every per-round shuffle/broadcast/hash moves 8-byte keys instead
      * of strings (the q87 long-id win, extended to the one operator
      * whose semantics COMPARE ids; measured in r8, e55d534).
      * Decode back to the "p…"/"s…" strings in the final projection
      * only — oracle unchanged. */
    QueryDef("q102_label_prop", (s, dir) =>
      Graph.labelPropagation(
        Graph.bipartiteEdgesOrderedLong(t(s, dir, "lineitem"),
          "l_partkey", "l_suppkey", "p", "s"),
        rounds = 2)
        .select(Graph.decodeOrderedBipartite(col("node"), "p", "s").as("node"),
          Graph.decodeOrderedBipartite(col("label"), "p", "s").as("label")),
      s"""WITH $bipartiteEdgeCtes,
         l0 AS (SELECT DISTINCT src AS node, src AS label FROM edges),
         l1 AS (SELECT node, label FROM (
                  SELECT e.src AS node, l.label, count(*) AS n,
                         ROW_NUMBER() OVER (PARTITION BY e.src
                           ORDER BY count(*) DESC, l.label) AS rn
                  FROM edges e JOIN l0 l ON l.node = e.dst
                  GROUP BY e.src, l.label)
                WHERE rn = 1),
         l2 AS (SELECT node, label FROM (
                  SELECT e.src AS node, l.label, count(*) AS n,
                         ROW_NUMBER() OVER (PARTITION BY e.src
                           ORDER BY count(*) DESC, l.label) AS rn
                  FROM edges e JOIN l1 l ON l.node = e.dst
                  GROUP BY e.src, l.label)
                WHERE rn = 1)
         SELECT node, label FROM l2"""),

    /** Robust outlier counts per event type: median/MAD instead of q61's
      * mean/σ (a single extreme value can't move the fence). Median and
      * MAD are interpolated percentiles rounded to 6 dp BEFORE the
      * deviation compare, so the fence is engine-stable. */
    QueryDef("q103_mad_outliers", (s, dir) => {
      val med = t(s, dir, "events")
        .groupBy(col("event_type"))
        .agg(round(expr("percentile(value, 0.5)"), 6).as("med"))
      val mad = t(s, dir, "events")
        .join(broadcast(med), "event_type")
        .groupBy(col("event_type"), col("med"))
        .agg(round(expr("percentile(abs(value - med), 0.5)"), 6).as("mad"))
      t(s, dir, "events")
        .join(broadcast(mad), "event_type")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(when(round(abs(col("value") - col("med")), 6)
            > round(col("mad") * 1.4826 * 3, 6), 1L).otherwise(0L)).as("n_outliers"),
          // already 6-dp-rounded; a second round to 2 dp would re-open
          // the .xx5 half-round divergence the 6-dp round closed
          min(col("med")).as("median_v"),
          min(col("mad")).as("mad_v"))
    },
      """WITH med AS (SELECT event_type, round(quantile_cont(value, 0.5), 6)
                        AS med
                      FROM events GROUP BY event_type),
         mad AS (SELECT e.event_type, m.med,
                        round(quantile_cont(abs(e.value - m.med), 0.5), 6)
                          AS mad
                 FROM events e JOIN med m USING (event_type)
                 GROUP BY e.event_type, m.med)
         SELECT e.event_type, count(*) AS n,
                CAST(sum(CASE WHEN round(abs(e.value - m.med), 6)
                          > round(m.mad * 1.4826 * 3, 6)
                          THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
                min(m.med) AS median_v,
                min(m.mad) AS mad_v
         FROM events e JOIN mad m USING (event_type)
         GROUP BY e.event_type"""),

    /** Last-touch attribution: each purchase credits the user's most
      * recent strictly-prior non-purchase event within a 7-day
      * lookback — `EventOps.lastTouchAttribution`, where the
      * same-timestamp order constraint is spec-tested. */
    QueryDef("q104_attribution", (s, dir) =>
      EventOps.lastTouchAttribution(t(s, dir, "events"), lookbackDays = 7),
      """WITH pe AS (
           SELECT event_id AS p_id, user_id, ts, event_type,
                  CAST(round(value * 100) AS BIGINT) AS cents,
                  max(CASE WHEN event_type <> 'purchase' THEN ts END)
                    OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                    AS touch_ts
           FROM events),
         p AS (SELECT * FROM pe WHERE event_type = 'purchase'),
         tch AS (SELECT user_id, ts AS touch_ts, event_id AS t_id,
                        event_type AS channel
                 FROM events WHERE event_type <> 'purchase'),
         j AS (SELECT p.p_id, p.ts, p.cents, p.touch_ts, tch.channel,
                      ROW_NUMBER() OVER (PARTITION BY p.p_id
                        ORDER BY tch.t_id DESC) AS rn
               FROM p LEFT JOIN tch
                 ON p.user_id = tch.user_id AND p.touch_ts = tch.touch_ts
                 AND (tch.touch_ts < p.ts OR tch.t_id < p.p_id))
         SELECT CASE WHEN touch_ts IS NULL
                       OR touch_ts < ts - INTERVAL 7 DAY
                     THEN 'none' ELSE channel END AS attr_channel,
                count(*) AS n_purchases,
                CAST(sum(cents) AS BIGINT) AS cents
         FROM j WHERE rn = 1
         GROUP BY 1"""),

    /** RFM segmentation: per purchasing user, recency (days since last
      * purchase, anchored to the global latest event day), frequency,
      * monetary cents; quintile scores on engine-stable orders. The
      * quintiles come from [[graft.operators.Ranks.withNtile]]'s banded
      * exact-rank machinery — bit-identical to the global `ntile(5)`
      * window the oracle runs, but with every task bounded by the band
      * structure instead of funneling all purchasing users through one
      * partition three times (the r7 `weak`; purchasing users grow with
      * the corpus, so the post-aggregate frame is data-scale, not
      * dimension-scale). The user frame is materialized once so the
      * three quintile passes rank it, not three re-runs of the
      * event-scale aggregation. */
    QueryDef("q105_rfm", (s, dir) => {
      val ev = t(s, dir, "events")
      val anchor = ev.agg(max(col("ts").cast("date")).as("anchor_day"))
      val rfm = ev.filter(col("event_type") === "purchase")
        .crossJoin(broadcast(anchor))
        .groupBy(col("user_id"))
        .agg(datediff(first(col("anchor_day")), max(col("ts").cast("date")))
          .cast("bigint").as("r_days"),
          count(lit(1)).as("f_n"),
          sum(round(col("value") * 100).cast("bigint")).as("m_cents"))
        .localCheckpoint()
      // each quintile pipeline ranks the NARROW (metric, user_id)
      // projection — its joins/windows shuffle two longs per row instead
      // of the whole frame — and the scores join back on user_id
      val scored = Seq(
        ("r_days", true, "r_q"),    // recent buyers score high…
        ("f_n", false, "f_q"),      // …frequent and big spenders too
        ("m_cents", false, "m_q"))
        .map { case (c, asc, out) =>
          Ranks.withNtile(rfm.select(col("user_id"), col(c)),
            col(c), asc, col("user_id"), 5, out)
            .select(col("user_id"), col(out))
        }
      scored.foldLeft(rfm)((d, s) => d.join(s, Seq("user_id")))
        .select(col("user_id"), col("r_days"), col("f_n"), col("m_cents"),
          col("r_q"), col("f_q"), col("m_q"))
    },
      """WITH anchor AS (SELECT max(CAST(ts AS DATE)) AS anchor_day
                         FROM events),
         rfm AS (
           SELECT user_id,
                  CAST(anchor_day - max(CAST(ts AS DATE)) AS BIGINT)
                    AS r_days,
                  count(*) AS f_n,
                  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                    AS m_cents
           FROM events, anchor WHERE event_type = 'purchase'
           GROUP BY user_id, anchor_day)
         SELECT user_id, r_days, f_n, m_cents,
                CAST(ntile(5) OVER (ORDER BY r_days, user_id) AS BIGINT)
                  AS r_q,
                CAST(ntile(5) OVER (ORDER BY f_n DESC, user_id) AS BIGINT)
                  AS f_q,
                CAST(ntile(5) OVER (ORDER BY m_cents DESC, user_id) AS BIGINT)
                  AS m_q
         FROM rfm"""),

    /** Period-over-period: per event type and day, count vs the previous
      * PRESENT day (lag) and vs exactly 7 days earlier (self equi-join —
      * value-based, absent → null), deltas in basis points with an
      * ANSI-safe guard. */
    QueryDef("q106_period_over_period", (s, dir) => {
      val daily = t(s, dir, "events")
        .groupBy(col("event_type"), col("ts").cast("date").as("day"))
        .agg(count(lit(1)).as("n"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
      val weekAgo = daily.select(col("event_type").as("graft_et"),
        col("day").as("graft_wday"), col("n").as("n_w"))
      daily
        .withColumn("n_prev", lag(col("n"), 1).over(w))
        .join(weekAgo,
          col("event_type") === col("graft_et")
            && col("graft_wday") === date_sub(col("day"), 7), "left")
        .drop("graft_et", "graft_wday")
        // sign-split so negative deltas divide on a positive numerator:
        // Spark's div truncates toward zero, DuckDB's // floors — they
        // only agree when the numerator is non-negative
        .withColumn("dod_bp",
          when(col("n_prev") > 0,
            expr("""CASE WHEN n >= n_prev
                  THEN ((n - n_prev) * 10000) div n_prev
                  ELSE -(((n_prev - n) * 10000) div n_prev) END""")))
        .withColumn("wow_bp",
          when(col("n_w") > 0,
            expr("""CASE WHEN n >= n_w
                  THEN ((n - n_w) * 10000) div n_w
                  ELSE -(((n_w - n) * 10000) div n_w) END""")))
        .select(col("event_type"), col("day"), col("n"),
          col("n_prev"), col("n_w"), col("dod_bp"), col("wow_bp"))
    },
      """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
                               count(*) AS n
                        FROM events GROUP BY 1, 2),
         l AS (SELECT event_type, day, n,
                      lag(n) OVER (PARTITION BY event_type ORDER BY day)
                        AS n_prev
               FROM daily)
         SELECT l.event_type, l.day, l.n, l.n_prev, w.n AS n_w,
                CAST(CASE WHEN l.n_prev > 0 THEN
                       CASE WHEN l.n >= l.n_prev
                       THEN ((l.n - l.n_prev) * 10000) // l.n_prev
                       ELSE -(((l.n_prev - l.n) * 10000) // l.n_prev) END
                     END AS BIGINT) AS dod_bp,
                CAST(CASE WHEN w.n > 0 THEN
                       CASE WHEN l.n >= w.n
                       THEN ((l.n - w.n) * 10000) // w.n
                       ELSE -(((w.n - l.n) * 10000) // w.n) END
                     END AS BIGINT) AS wow_bp
         FROM l LEFT JOIN daily w
           ON w.event_type = l.event_type AND w.day = l.day - 7"""),

    /** Funnel stage timing: for users completing the strict
      * view → click → purchase chain (q54's semantics), seconds spent in
      * each stage gap, with per-cohort mean (integer div) and exact
      * median — the "where does the funnel stall" read-out. */
    QueryDef("q107_funnel_timing", (s, dir) => {
      def sec(c: org.apache.spark.sql.Column) =
        c.cast("timestamp_ltz").cast("long")
      EventOps.funnelTimes(t(s, dir, "events"), Seq("view", "click", "purchase"))
        .filter(col("t2").isNotNull) // chain completers only
        .select((sec(col("t1")) - sec(col("t0"))).as("view_to_click_s"),
          (sec(col("t2")) - sec(col("t1"))).as("click_to_purchase_s"))
        .agg(count(lit(1)).as("n_users"),
          expr("sum(view_to_click_s) div count(1)").as("mean_vc_s"),
          expr("sum(click_to_purchase_s) div count(1)").as("mean_cp_s"),
          round(expr("percentile(view_to_click_s, 0.5)"), 2).as("med_vc_s"),
          round(expr("percentile(click_to_purchase_s, 0.5)"), 2).as("med_cp_s"))
    },
      """WITH v AS (SELECT user_id, min(ts) AS t0 FROM events
                    WHERE event_type = 'view' GROUP BY user_id),
         c AS (SELECT e.user_id, min(v.t0) AS t0, min(e.ts) AS t1
               FROM events e JOIN v ON e.user_id = v.user_id
               WHERE e.event_type = 'click' AND e.ts > v.t0
               GROUP BY e.user_id),
         p AS (SELECT e.user_id, min(c.t0) AS t0, min(c.t1) AS t1,
                      min(e.ts) AS t2
               FROM events e JOIN c ON e.user_id = c.user_id
               WHERE e.event_type = 'purchase' AND e.ts > c.t1
               GROUP BY e.user_id),
         g AS (SELECT epoch_us(t1) // 1000000 - epoch_us(t0) // 1000000
                        AS vc,
                      epoch_us(t2) // 1000000 - epoch_us(t1) // 1000000
                        AS cp
               FROM p)
         SELECT count(*) AS n_users,
                CAST(sum(vc) // count(*) AS BIGINT) AS mean_vc_s,
                CAST(sum(cp) // count(*) AS BIGINT) AS mean_cp_s,
                round(quantile_cont(vc, 0.5), 2) AS med_vc_s,
                round(quantile_cont(cp, 0.5), 2) AS med_cp_s
         FROM g"""),

    /** Per-type value trend: least-squares slope of value (cents) over
      * the event day — the drift monitor. Every co-moment is a sum of
      * INTEGER products (centered day × cents), so both engines
      * accumulate exactly and only the final slope division is float.
      * x is centered on a fixed recent epoch (2024-01-01) rather than
      * the Unix epoch: with raw epoch days, sxx grows as n·19700² and
      * the determinant n·sxx − sx² overflows int64 once a type exceeds
      * ~150k rows; with |x| ≲ a few thousand it stays exact to billions
      * of rows per type, and centering leaves the slope unchanged. */
    QueryDef("q109_trend_slope", (s, dir) =>
      t(s, dir, "events")
        .select(col("event_type"),
          datediff(col("ts").cast("date"), lit("2024-01-01").cast("date"))
            .cast("long").as("x"),
          round(col("value") * 100).cast("bigint").as("y"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(col("x") * col("x")).as("sxx"), sum(col("x") * col("y")).as("sxy"))
        .select(col("event_type"), col("n"),
          when(col("n") * col("sxx") - col("sx") * col("sx") =!= 0,
            round((col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
              / (col("n") * col("sxx") - col("sx") * col("sx")).cast("double"), 6))
            .as("slope_cents_per_day")),
      """WITH m AS (
           SELECT event_type,
                  CAST(CAST(ts AS DATE) - DATE '2024-01-01' AS BIGINT) AS x,
                  CAST(round(value * 100) AS BIGINT) AS y
           FROM events),
         s AS (SELECT event_type, count(*) AS n,
                      CAST(sum(x) AS BIGINT) AS sx,
                      CAST(sum(y) AS BIGINT) AS sy,
                      CAST(sum(x * x) AS BIGINT) AS sxx,
                      CAST(sum(x * y) AS BIGINT) AS sxy
               FROM m GROUP BY event_type)
         SELECT event_type, n,
                CASE WHEN n * sxx - sx * sx <> 0
                THEN round(CAST(n * sxy - sx * sy AS DOUBLE)
                           / CAST(n * sxx - sx * sx AS DOUBLE), 6)
                END AS slope_cents_per_day
         FROM s"""),

    /** Daily new-user counts and the running total — first-seen
      * bucketing plus one cumulative window over the day-cardinality
      * frame (the growth-curve read-out). */
    QueryDef("q110_new_users", (s, dir) => {
      val w = Window.orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(min(col("ts").cast("date")).as("day"))
        .groupBy(col("day"))
        .agg(count(lit(1)).as("n_new"))
        .withColumn("cum_users", sum(col("n_new")).over(w))
    },
      """WITH firsts AS (SELECT user_id, min(CAST(ts AS DATE)) AS day
                         FROM events GROUP BY user_id),
         daily AS (SELECT day, count(*) AS n_new FROM firsts GROUP BY day)
         SELECT day, n_new,
                CAST(sum(n_new) OVER (ORDER BY day
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS cum_users
         FROM daily"""),

    /** Market-basket co-occurrence: event-type pairs appearing in the
      * same (user, day) basket, counted once per basket — the
      * set-co-occurrence twin of q62's sequential bigrams. */
    QueryDef("q111_baskets", (s, dir) => {
      val items = t(s, dir, "events")
        .select(col("user_id"), col("ts").cast("date").as("day"),
          col("event_type")).distinct()
      val a = items.select(col("user_id"), col("day"), col("event_type").as("et_a"))
      val b = items.select(col("user_id"), col("day"), col("event_type").as("et_b"))
      a.join(b, Seq("user_id", "day"))
        .filter(col("et_a") < col("et_b"))
        .groupBy(col("et_a"), col("et_b"))
        .agg(count(lit(1)).as("support"))
    },
      """WITH items AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day,
                               event_type
                        FROM events)
         SELECT a.event_type AS et_a, b.event_type AS et_b,
                count(*) AS support
         FROM items a JOIN items b
           ON a.user_id = b.user_id AND a.day = b.day
           AND a.event_type < b.event_type
         GROUP BY 1, 2"""),

    /** Per-doc Shannon entropy (bits) of the word distribution — the
      * information-density quality signal (near-zero entropy = repeated
      * filler; corpus-typical entropy = natural text). One explode + one
      * (doc, word) hash agg + a doc-partitioned window for the total;
      * each term is (c/n)·log₂(n/c) fixed to an e8-scaled INTEGER per
      * row — the 1/p form keeps every term ≥ 0, and the integer sum is
      * exact, where a float sum of 8-dp-rounded terms is add-order
      * nondeterministic even WITHIN one engine (DuckDB's parallel
      * aggregation flipped one sf0.1 doc sitting on a 4-dp boundary
      * between runs). Only the final e8-descale division is float. */
    QueryDef("q112_entropy", (s, dir) => {
      val wn = Window.partitionBy(col("doc_id"))
      t(s, dir, "documents")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
        .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("c"))
        .withColumn("n", sum(col("c")).over(wn))
        .select(col("doc_id"), col("n"),
          round((col("c").cast("double") / col("n")) *
            log(2.0, col("n").cast("double") / col("c")) * lit(1e8))
            .cast("bigint").as("term_e8"))
        .groupBy(col("doc_id"))
        .agg(max(col("n")).as("n_words"), count(lit(1)).as("n_distinct"),
          round(sum(col("term_e8")).cast("double") / lit(1e8), 4)
            .as("entropy_bits"))
    },
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
                       FROM documents),
         c AS (SELECT doc_id, w, count(*) AS c FROM toks GROUP BY doc_id, w),
         tt AS (SELECT doc_id, c,
                       CAST(sum(c) OVER (PARTITION BY doc_id) AS BIGINT) AS n
                FROM c),
         e AS (SELECT doc_id, n,
                      CAST(round((CAST(c AS DOUBLE) / n)
                            * log2(CAST(n AS DOUBLE) / c) * 100000000)
                        AS BIGINT) AS term_e8
               FROM tt)
         SELECT doc_id, CAST(max(n) AS BIGINT) AS n_words,
                count(*) AS n_distinct,
                round(CAST(sum(term_e8) AS BIGINT) / 100000000.0, 4)
                  AS entropy_bits
         FROM e GROUP BY doc_id"""),

    /** Collocation mining: pointwise mutual information of word pairs
      * co-occurring in a document, over the corpus's 100 most
      * document-frequent words — top 20 by PMI with support ≥ 5.
      *
      * Scale shape: restricting pairs to a top-k vocabulary bounds the
      * candidate space at k²/2 keys no matter the corpus size (the
      * unrestricted pair explosion is quadratic in doc vocabulary); the
      * vocabulary is corpus-wide, tiny, and broadcast, and the pair count
      * partial-aggregates map-side. PMI divides exact integer counts, so
      * the only float op is one log, rounded to 6 dp before the ranked
      * limit (ties at the cut break on the word pair). */
    QueryDef("q113_pmi", (s, dir) => {
      val docs = t(s, dir, "documents")
      val dw = Spread.scan(docs).select(col("doc_id"),
        explode(array_distinct(split(col("text"), " "))).as("w"))
      val top = dw.groupBy(col("w")).agg(count(lit(1)).as("df"))
        .orderBy(col("df").desc, col("w")).limit(100)
      val nd = docs.agg(count(lit(1)).as("n_docs"))
      val fw = dw.join(broadcast(top), Seq("w"))
      val a = fw.select(col("doc_id"), col("w").as("w_a"), col("df").as("df_a"))
      val b = fw.select(col("doc_id"), col("w").as("w_b"), col("df").as("df_b"))
      a.join(b, Seq("doc_id")).filter(col("w_a") < col("w_b"))
        .groupBy(col("w_a"), col("w_b"), col("df_a"), col("df_b"))
        .agg(count(lit(1)).as("n_ab"))
        .filter(col("n_ab") >= 5)
        .crossJoin(broadcast(nd))
        .select(col("w_a"), col("w_b"), col("n_ab"), col("df_a"), col("df_b"),
          round(log(col("n_ab").cast("double") * col("n_docs") /
            (col("df_a").cast("double") * col("df_b"))), 6).as("pmi"))
        .orderBy(col("pmi").desc, col("w_a"), col("w_b"))
        .limit(20)
    },
      """WITH dw AS (SELECT DISTINCT doc_id,
                            unnest(string_split(text, ' ')) AS w
                     FROM documents),
         df AS (SELECT w, count(*) AS df FROM dw GROUP BY w),
         top AS (SELECT w, df FROM df ORDER BY df DESC, w LIMIT 100),
         fw AS (SELECT dw.doc_id, dw.w, top.df FROM dw JOIN top USING (w)),
         nd AS (SELECT count(*) AS n_docs FROM documents),
         p AS (SELECT a.w AS w_a, b.w AS w_b, a.df AS df_a, b.df AS df_b,
                      count(*) AS n_ab
               FROM fw a JOIN fw b
                 ON a.doc_id = b.doc_id AND a.w < b.w
               GROUP BY 1, 2, 3, 4
               HAVING count(*) >= 5)
         SELECT w_a, w_b, n_ab, df_a, df_b,
                round(ln(CAST(n_ab AS DOUBLE) * n_docs
                         / (CAST(df_a AS DOUBLE) * df_b)), 6) AS pmi
         FROM p, nd
         ORDER BY pmi DESC, w_a, w_b LIMIT 20"""),

    /** Winsorized mean per event type: values clipped at the exact
      * p05/p95 before averaging — the robust-mean companion to q103's
      * MAD outliers (clip, don't drop). The percentile pass is one
      * type-keyed agg over a 5-row result, broadcast back; clipping is
      * scan-local. Means are integer cents with floor division —
      * round(avg(double), 2) flips at half-cent boundaries under
      * cross-engine add-order (q115 documents the same hazard; 42 of
      * its groups sit exactly on one in this data), so each value is
      * fixed to cents per row BEFORE the sum. */
    QueryDef("q114_winsorize", (s, dir) => {
      val ev = t(s, dir, "events")
      val pct = ev.groupBy(col("event_type"))
        .agg(expr("percentile(value, 0.05)").as("p05"),
          expr("percentile(value, 0.95)").as("p95"))
      ev.join(broadcast(pct), Seq("event_type"))
        .select(col("event_type"), col("p05"), col("p95"), col("value"),
          least(greatest(col("value"), col("p05")), col("p95")).as("wv"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          round(min(col("p05")), 2).as("p05_r"),
          round(min(col("p95")), 2).as("p95_r"),
          expr("sum(cast(round(value * 100) as bigint)) div count(1)")
            .as("mean_raw_cents"),
          expr("sum(cast(round(wv * 100) as bigint)) div count(1)")
            .as("mean_winsor_cents"))
    },
      """WITH p AS (SELECT event_type,
                          quantile_cont(value, 0.05) AS p05,
                          quantile_cont(value, 0.95) AS p95
                   FROM events GROUP BY event_type)
         SELECT e.event_type, count(*) AS n,
                round(min(p.p05), 2) AS p05_r,
                round(min(p.p95), 2) AS p95_r,
                CAST(sum(CAST(round(e.value * 100) AS BIGINT))
                     // count(*) AS BIGINT) AS mean_raw_cents,
                CAST(sum(CAST(round(least(greatest(e.value, p.p05), p.p95) * 100)
                              AS BIGINT)) // count(*) AS BIGINT)
                  AS mean_winsor_cents
         FROM events e JOIN p USING (event_type)
         GROUP BY e.event_type"""),

    /** Seasonality profile: event counts and mean value by
      * (type, day-of-week, hour-of-day) — the load/behavior matrix every
      * ops dashboard draws. Pure one-pass groupBy on scan-local derived
      * keys; the group count is bounded at |types|·7·24 regardless of
      * data size. Spark's dayofweek is 1-based Sunday, shifted to
      * DuckDB's 0-based dow. The mean is integer cents with floor
      * division — round(avg(double), 2) sits exactly on the half-cent
      * boundary for some groups and float add-order flips it across
      * engines; sum-of-integers div n cannot. */
    QueryDef("q115_seasonality", (s, dir) =>
      t(s, dir, "events")
        .groupBy(col("event_type"),
          (dayofweek(col("ts")) - 1).cast("bigint").as("dow"),
          hour(col("ts")).cast("bigint").as("hod"))
        .agg(count(lit(1)).as("n"),
          expr("sum(cast(round(value * 100) as bigint)) div count(1)")
            .as("avg_cents")),
      """SELECT event_type,
                CAST(date_part('dow', ts) AS BIGINT) AS dow,
                CAST(date_part('hour', ts) AS BIGINT) AS hod,
                count(*) AS n,
                CAST(sum(CAST(round(value * 100) AS BIGINT))
                     // count(*) AS BIGINT) AS avg_cents
         FROM events GROUP BY 1, 2, 3"""),

    /** Zipf slope per language: least-squares fit of ln(freq) on
      * ln(rank) over the top-200 words — natural text sits near −1;
      * machine-generated or template text drifts off. ln(rank)/ln(count)
      * are fixed to e6-scaled INTEGERS per point, so every moment sum is
      * exact int64 (the e12 scales cancel in the slope ratio) — a float
      * sum of rounded terms is add-order nondeterministic even within
      * one engine. */
    QueryDef("q116_zipf", (s, dir) => {
      val w = Window.partitionBy(col("lang")).orderBy(col("cn").desc, col("w"))
      t(s, dir, "documents")
        .select(col("lang"), explode(split(col("text"), " ")).as("w"))
        .groupBy(col("lang"), col("w")).agg(count(lit(1)).as("cn"))
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 200)
        .select(col("lang"),
          round(log(col("rnk").cast("double")) * lit(1e6)).cast("bigint").as("x"),
          round(log(col("cn").cast("double")) * lit(1e6)).cast("bigint").as("y"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_pts"),
          round(
            (count(lit(1)) * sum(col("x") * col("y")) - sum(col("x")) * sum(col("y")))
              .cast("double") /
              (count(lit(1)) * sum(col("x") * col("x")) - sum(col("x")) * sum(col("x")))
                .cast("double"),
            4).as("zipf_slope"))
    },
      """WITH toks AS (SELECT lang, unnest(string_split(text, ' ')) AS w
                       FROM documents),
         c AS (SELECT lang, w, count(*) AS cn FROM toks GROUP BY lang, w),
         r AS (SELECT lang, cn,
                      ROW_NUMBER() OVER (PARTITION BY lang
                        ORDER BY cn DESC, w) AS rnk
               FROM c),
         p AS (SELECT lang,
                      CAST(round(ln(CAST(rnk AS DOUBLE)) * 1000000) AS BIGINT) AS x,
                      CAST(round(ln(CAST(cn AS DOUBLE)) * 1000000) AS BIGINT) AS y
               FROM r WHERE rnk <= 200)
         SELECT lang, count(*) AS n_pts,
                round(CAST(count(*) * sum(x * y) - sum(x) * sum(y) AS DOUBLE)
                      / CAST(count(*) * sum(x * x) - sum(x) * sum(x) AS DOUBLE),
                      4) AS zipf_slope
         FROM p GROUP BY lang"""),

    /** Cosine range search: every corpus vector within sim ≥ 0.3 of the
      * 5 query vectors — the τ-ball twin of q29's top-k (dedup sweeps
      * ask "everything closer than τ", not "the 10 closest"). */
    QueryDef("q117_ann_range", (s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.rangeSearch(e.filter(col("vec_id") < 5), e, minSim = 0.3)
    },
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                    FROM embeddings),
         q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 5)
         SELECT q_id, vec_id,
                round(list_cosine_similarity(qv, v), 6) AS sim
         FROM q, e
         WHERE vec_id <> q_id
           AND round(list_cosine_similarity(qv, v), 6) >= 0.3"""),

    /** Greedy sequence packing: docs packed into 4096-token training
      * sequences per language, first-fit in doc_id order, boundaries
      * respected (q41's offset chunking splits mid-document; this
      * doesn't). The reset-on-overflow recurrence can't be a window
      * cumsum — Spark streams it through flatMapSortedGroups with O(1)
      * state; the oracle replays it as a recursive CTE. */
    QueryDef("q118_seq_pack", (s, dir) =>
      SeqPack.pack(t(s, dir, "documents"), "lang", capacity = 4096),
      """WITH RECURSIVE d AS (
           SELECT lang, doc_id,
                  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
                  ROW_NUMBER() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
           FROM documents),
         rec AS (
           SELECT lang, doc_id, n_tok, rn,
                  CAST(0 AS BIGINT) AS pack_id, n_tok AS fill
           FROM d WHERE rn = 1
           UNION ALL
           SELECT d.lang, d.doc_id, d.n_tok, d.rn,
                  CASE WHEN rec.fill + d.n_tok > 4096
                       THEN rec.pack_id + 1 ELSE rec.pack_id END,
                  CASE WHEN rec.fill + d.n_tok > 4096
                       THEN d.n_tok ELSE rec.fill + d.n_tok END
           FROM rec JOIN d ON d.lang = rec.lang AND d.rn = rec.rn + 1)
         SELECT lang, doc_id, n_tok, pack_id FROM rec"""),

    /** MinHash accuracy audit (q91's contract pattern aimed at dedup):
      * for every LSH-verified near-dup pair, the 8-seed signature
      * estimate of Jaccard (matching-seed fraction) against the exact
      * shingle Jaccard — mean and max absolute error, plus how many
      * pairs the estimate would misclassify at the 0.2 threshold. All
      * inputs are exact integer counts; the errors are single IEEE
      * divisions, rounded before the tiny final agg. */
    QueryDef("q119_minhash_acc", (s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = MinHashLsh.nearDuplicates(docs, threshold = 0.2)
      val sigs = MinHashLsh.signatures(docs)
      val est = pairs
        .join(sigs.select(col("doc_id").as("doc_a"), col("seed"),
          col("minhash").as("mh_a")), Seq("doc_a"))
        .join(sigs.select(col("doc_id").as("doc_b"), col("seed"),
          col("minhash").as("mh_b")), Seq("doc_b", "seed"))
        .groupBy(col("doc_a"), col("doc_b"), col("jaccard"))
        .agg((sum(when(col("mh_a") === col("mh_b"), 1L).otherwise(0L))
          .cast("double") / count(lit(1))).as("est"))
      est
        .select(col("jaccard"), col("est"),
          round(abs(col("est") - col("jaccard")) * lit(1e8)).cast("bigint")
            .as("err_e8")) // e8 ints: exact sum, add-order-immune mean
        .agg(count(lit(1)).as("n_pairs"),
          round(sum(col("err_e8")).cast("double")
            / (count(lit(1)) * lit(1e8)), 4).as("mean_abs_err"),
          round(max(col("err_e8")).cast("double") / lit(1e8), 4).as("max_abs_err"),
          sum(when((col("est") >= 0.2) =!= (col("jaccard") >= 0.2), 1L)
            .otherwise(0L)).as("n_flipped"))
    },
      s"""WITH $minhashPairCtes,
         ver AS (
           SELECT doc_a, doc_b,
                  round(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 4) AS jaccard
           FROM inter
           JOIN sz sa ON sa.doc_id = doc_a
           JOIN sz sb ON sb.doc_id = doc_b
           WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.2),
         est AS (
           SELECT v.doc_a, v.doc_b, v.jaccard,
                  CAST(sum(CASE WHEN a.mh = b.mh THEN 1 ELSE 0 END) AS DOUBLE)
                    / count(*) AS est
           FROM ver v
           JOIN sig a ON a.doc_id = v.doc_a
           JOIN sig b ON b.doc_id = v.doc_b AND b.j = a.j
           GROUP BY 1, 2, 3),
         err AS (SELECT jaccard, est,
                        CAST(round(abs(est - jaccard) * 100000000) AS BIGINT)
                          AS err_e8 FROM est)
         SELECT count(*) AS n_pairs,
                round(CAST(sum(err_e8) AS BIGINT)
                      / (count(*) * 100000000.0), 4) AS mean_abs_err,
                round(CAST(max(err_e8) AS BIGINT) / 100000000.0, 4)
                  AS max_abs_err,
                CAST(sum(CASE WHEN (est >= 0.2) <> (jaccard >= 0.2)
                              THEN 1 ELSE 0 END) AS BIGINT) AS n_flipped
         FROM err"""),

    /** Cross-source overlap matrix: for each source pair, how many
      * distinct 3-word shingles both emit — the corpus-governance
      * readout that decides which feeds are redundant before paying for
      * both. Distinct (source, shingle) dedupes map-side, then a
      * shingle-keyed self-join whose per-key fan-out is bounded by the
      * SOURCE count (tiny), never by corpus size, so the pair agg is
      * safe at any scale. */
    QueryDef("q120_source_overlap", (s, dir) => {
      import graft.functions.WordShingles.word_shingles
      val sh = t(s, dir, "documents")
        .select(col("source"), explode(word_shingles(col("text"), 3)).as("g"))
        .distinct()
      sh.select(col("source").as("src_a"), col("g"))
        .join(sh.select(col("source").as("src_b"), col("g")), Seq("g"))
        .filter(col("src_a") < col("src_b"))
        .groupBy(col("src_a"), col("src_b"))
        .agg(count(lit(1)).as("n_shared"))
    },
      """WITH sh AS (
           SELECT DISTINCT source,
                  unnest(list_transform(range(1, len(s) - 1),
                         i -> s[i] || ' ' || s[i+1] || ' ' || s[i+2])) AS g
           FROM (SELECT source, string_split(text, ' ') AS s
                 FROM documents))
         SELECT a.source AS src_a, b.source AS src_b, count(*) AS n_shared
         FROM sh a JOIN sh b ON a.g = b.g AND a.source < b.source
         GROUP BY 1, 2"""),

    /** Dataset card: the per-(lang, source) datasheet a corpus release
      * ships with — doc and token counts, exact-dup share, mean quality,
      * and language-ID disagreement, every formula reused verbatim from
      * the operator that individually checks it (q20/q21/q22/q24). All
      * integer arithmetic (sums of exact counts, mean via floor div);
      * the dup-count join is hash-keyed and corpus-sized, everything
      * else is scan-local before one tiny group agg. */
    QueryDef("q121_dataset_card", (s, dir) => {
      val docs = t(s, dir, "documents")
      val dupes = docs.groupBy(md5(col("text")).as("h"))
        .agg(count(lit(1)).as("nc"))
      val qual = TextOps.qualityFeatures(docs)
        .select(col("doc_id"), col("quality_score_bp"))
      val langp = TextOps.langId(docs).select(col("doc_id"), col("pred_lang"))
      docs
        .select(col("lang"), col("source"), col("doc_id"),
          md5(col("text")).as("h"), TextOps.wordCount(col("text")).as("n_tok"))
        .join(dupes, "h")
        .join(qual, "doc_id")
        .join(langp, "doc_id")
        .groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tok")).as("n_tokens"),
          sum(when(col("nc") > 1, 1L).otherwise(0L)).as("n_exact_dup"),
          expr("sum(quality_score_bp) div count(1)").as("mean_quality_bp"),
          sum(when(col("pred_lang") === "unknown", 1L).otherwise(0L))
            .as("n_unknown_lang"))
    },
      """WITH dup AS (SELECT md5(text) AS h, count(*) AS nc
                      FROM documents GROUP BY 1),
         q AS (SELECT doc_id,
                      CAST(floor((least(CAST(len(string_split(text, ' ')) AS DOUBLE) / 100, 1.0) * 0.5
                            + least(CAST(len(regexp_extract_all(text, '\b(the|a|of|and|is|to|in)\b')) AS DOUBLE)
                                    / len(string_split(text, ' ')) * 10, 1.0) * 0.3
                            + (1.0 - least(CAST(len(regexp_extract_all(text, '([.,!?;:''"()\[\]{}-])', 1)) AS DOUBLE)
                                           / length(text) * 20, 1.0)) * 0.2) * 10000) AS BIGINT) AS quality_score_bp
               FROM documents),
         u AS (SELECT doc_id,
                      (length(regexp_replace(text, '[ -~]', '', 'g')) = 0
                       AND len(regexp_extract_all(text, '\b(the|a|of|and|is)\b')) = 0
                       AND len(regexp_extract_all(text, '\b(der|die|das|und|ist)\b')) = 0
                       AND len(regexp_extract_all(text, '\b(el|los|una|y|es)\b')) = 0
                       AND len(regexp_extract_all(text, '\b(le|la|et|les|des)\b')) = 0) AS is_unknown
               FROM documents)
         SELECT lang, source, count(*) AS n_docs,
                CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
                CAST(sum(CASE WHEN nc > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_exact_dup,
                CAST(sum(quality_score_bp) // count(*) AS BIGINT) AS mean_quality_bp,
                CAST(sum(CASE WHEN is_unknown THEN 1 ELSE 0 END) AS BIGINT) AS n_unknown_lang
         FROM documents d
         JOIN dup ON dup.h = md5(d.text)
         JOIN q USING (doc_id)
         JOIN u USING (doc_id)
         GROUP BY lang, source"""),

    /** Gopher-rule ablation matrix: document counts for every
      * combination of the four q51 gates — the readout that says which
      * rule actually removes data and which is dead weight. One
      * 16-group agg over the per-doc rule booleans. */
    QueryDef("q122_rule_ablation", (s, dir) =>
      TextOps.gopherRules(t(s, dir, "documents"))
        .groupBy(col("r_len"), col("r_wordlen"), col("r_stop"), col("r_rep"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_words")).as("n_words_total")),
      s"""WITH $gopherBaseCtes,
         rules AS (
           SELECT n_words,
                  n_words BETWEEN 50 AND 100000 AS r_len,
                  avg_word_len_bp BETWEEN 30000 AND 100000 AS r_wordlen,
                  n_stop_forms >= 2 AS r_stop,
                  floor(CAST(max_tf AS DOUBLE) / n_words * 10000) <= 800 AS r_rep
           FROM base JOIN wf USING (doc_id))
         SELECT r_len, r_wordlen, r_stop, r_rep, count(*) AS n_docs,
                CAST(sum(n_words) AS BIGINT) AS n_words_total
         FROM rules GROUP BY 1, 2, 3, 4"""),

    /** Contamination report — the eval-side complement of q43/q85's
      * corpus cleaning: per eval-set document, how many corpus docs
      * share at least one word-6-gram and how many distinct grams leak.
      * Grams are deduped per doc map-side before the gram-keyed join;
      * at corpus scale the hot-gram fan-out is the same boilerplate
      * skew q26 caps with maxBucketSize — apply the identical cap (or
      * pre-drop q52's boilerplate grams) before trusting per-doc
      * counts on a raw crawl. */
    QueryDef("q123_contamination_report", (s, dir) => {
      import graft.functions.WordShingles.word_shingles
      val docs = t(s, dir, "documents")
      def side(pred: org.apache.spark.sql.Column, idCol: String) = docs.filter(pred)
        .select(col("doc_id").as(idCol),
          explode(array_distinct(word_shingles(col("text"), 6))).as("sh"))
      val ev = side(col("doc_id") % 50 === 7, "eval_id")
      val co = side(col("doc_id") % 50 =!= 7, "corpus_id")
      ev.join(co, "sh")
        .groupBy(col("eval_id"))
        .agg(countDistinct(col("corpus_id")).as("n_dirty_docs"),
          countDistinct(col("sh")).as("n_shared_grams"))
    },
      s"""WITH $word6ShingleCte,
         d AS (SELECT DISTINCT doc_id, sh FROM sh),
         ev AS (SELECT doc_id AS eval_id, sh FROM d WHERE doc_id % 50 = 7),
         co AS (SELECT doc_id AS corpus_id, sh FROM d WHERE doc_id % 50 <> 7)
         SELECT eval_id,
                count(DISTINCT corpus_id) AS n_dirty_docs,
                count(DISTINCT ev.sh) AS n_shared_grams
         FROM ev JOIN co ON ev.sh = co.sh
         GROUP BY eval_id"""),

    /** Hot-key diagnostics: the top-20 heaviest join/agg keys with their
      * traffic share and a max/avg skew ratio — the report that decides
      * whether a key needs q74's salting or AQE's skew split before the
      * job ships. One partial-aggregated count, a 3-number global, and a
      * TakeOrdered top-20; shares are floor-bp on exact counts. */
    QueryDef("q124_key_skew", (s, dir) => {
      val counts = t(s, dir, "events")
        .groupBy(col("user_id")).agg(count(lit(1)).as("n"))
      val tot = counts.agg(sum(col("n")).as("total"),
        count(lit(1)).as("n_keys"), max(col("n")).as("max_n"))
      counts.orderBy(col("n").desc, col("user_id")).limit(20)
        .crossJoin(broadcast(tot))
        .select(col("user_id"), col("n"),
          floor(col("n") * lit(10000.0) / col("total")).cast("bigint")
            .as("share_bp"),
          floor(col("max_n") * col("n_keys") * lit(10000.0) / col("total"))
            .cast("bigint").as("skew_ratio_bp"))
    },
      """WITH c AS (SELECT user_id, count(*) AS n FROM events GROUP BY user_id),
         t AS (SELECT CAST(sum(n) AS BIGINT) AS total, count(*) AS n_keys,
                      CAST(max(n) AS BIGINT) AS max_n
               FROM c),
         top AS (SELECT user_id, n FROM c ORDER BY n DESC, user_id LIMIT 20)
         SELECT user_id, n,
                CAST(floor(n * 10000.0 / total) AS BIGINT) AS share_bp,
                CAST(floor(max_n * n_keys * 10000.0 / total) AS BIGINT)
                  AS skew_ratio_bp
         FROM top, t"""),

    /** Language-ID confusion matrix: labeled lang × predicted lang
      * counts — the model-eval readout for q22's classifier (its
      * per-doc predictions are already oracle-checked; this is the
      * aggregate quality view). One scan, one tiny group agg. */
    QueryDef("q125_langid_confusion", (s, dir) =>
      TextOps.langId(t(s, dir, "documents"))
        .groupBy(col("lang"), col("pred_lang"))
        .agg(count(lit(1)).as("n")),
      s"""SELECT lang,
                $langIdCase,
                count(*) AS n
         FROM documents GROUP BY 1, 2"""),

    /** Two-sample Kolmogorov–Smirnov drift statistic between the
      * purchase and error value distributions. Everything is integer
      * until the last division: values discretize to cents (a BOUNDED
      * domain — the cumulative window is over ≤50k distinct cents rows
      * at ANY corpus size, so the unpartitioned window is safe by
      * construction), and the sup is taken over |ca·nb − cb·na| — exact
      * cross-multiplied longs — so engines can't disagree about where
      * the max lands. */
    QueryDef("q126_ks_drift", (s, dir) => {
      val ev = t(s, dir, "events")
      Drift.ks(ev.filter(col("event_type") === "purchase"), col("value"),
        ev.filter(col("event_type") === "error"), col("value"))
    },
      """WITH byc AS (
           SELECT CAST(round(value * 100) AS BIGINT) AS cents,
                  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS na,
                  CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS nb
           FROM events WHERE event_type IN ('purchase', 'error')
           GROUP BY 1),
         cum AS (
           SELECT cents, na, nb,
                  CAST(sum(na) OVER (ORDER BY cents
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS ca,
                  CAST(sum(nb) OVER (ORDER BY cents
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cb
           FROM byc),
         t AS (SELECT COALESCE(CAST(sum(na) AS BIGINT), 0) AS ta,
                      COALESCE(CAST(sum(nb) AS BIGINT), 0) AS tb FROM byc),
         -- HUGEINT products mirror the Spark side's decimal(38,0)
         -- hardening: BIGINT ca*tb wraps/errors past ~3e9 rows/side
         m AS (SELECT max(abs(CAST(ca AS HUGEINT) * tb
                              - CAST(cb AS HUGEINT) * ta)) AS mx FROM cum, t)
         -- degenerate-input guard mirroring Drift.ksFromHists: an empty
         -- side (or both empty) must read as one row with ks_stat = 1.0,
         -- not a 0/0 null or zero rows — t and m are GROUP-BY-less
         -- aggregates, so each emits exactly one row on empty input
         SELECT ta AS n_a, tb AS n_b,
                CASE WHEN ta = 0 OR tb = 0 THEN 1.0
                     ELSE round(CAST(mx AS DOUBLE) /
                            (CAST(ta AS DOUBLE) * CAST(tb AS DOUBLE)), 6)
                END AS ks_stat
         FROM t, m"""),

    /** Z-order curve values for the (user_id, day) plane —
      * [[graft.store.Layout.zValue]]'s bit-interleave checked
      * bit-for-bit (the write path it feeds is `Layout.writeZOrdered`,
      * spec-asserted for disjoint file ranges). Bounded to event_id <
      * 500 so the oracle diff stays row-stable. */
    QueryDef("q127_zorder", (s, dir) =>
      t(s, dir, "events")
        .filter(col("event_id") < 500)
        .select(col("event_id"), col("user_id"),
          datediff(col("ts").cast("date"), lit("1970-01-01").cast("date"))
            .cast("long").as("d"))
        .withColumn("z", graft.store.Layout.zValue(col("user_id"), col("d"))),
      """SELECT event_id, user_id, d,
                CAST(list_sum(list_transform(range(0, 16),
                     i -> ((user_id >> i) & 1) * (CAST(1 AS BIGINT) << (2 * i))
                        + ((d >> i) & 1) * (CAST(1 AS BIGINT) << (2 * i + 1))))
                  AS BIGINT) AS z
         FROM (SELECT event_id, user_id,
                      CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS d
               FROM events WHERE event_id < 500)"""),

    /** SimHash near-dup pairs: banded Hamming blocking over q27's
      * fingerprints — 4 disjoint bytes guarantee exact recall to
      * distance 3 by pigeonhole, popcount verifies. The constant-memory
      * complement of q26's MinHash pipeline (one 64-bit fingerprint per
      * doc vs 8 signature rows). */
    QueryDef("q128_simhash_neardup", (s, dir) =>
      SimHash.nearDupPairs(t(s, dir, "documents"), maxHamming = 3),
      """WITH fp AS (
           SELECT doc_id,
                  CAST(sum(CASE WHEN score > 0 THEN CAST(1 AS BIGINT) << CAST(j AS INT) ELSE 0 END) AS BIGINT) AS simhash
           FROM (SELECT doc_id, j,
                        sum(CASE WHEN substr(md5(w), CAST(j AS INT) + 1, 1)
                                 IN ('1','3','5','7','9','b','d','f') THEN 1 ELSE -1 END) AS score
                 FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
                      (SELECT unnest(range(0, 32)) AS j)
                 GROUP BY doc_id, j)
           GROUP BY doc_id)
         SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
         FROM fp a JOIN fp b ON a.doc_id < b.doc_id
         WHERE bit_count(xor(a.simhash, b.simhash)) <= 3"""),

    /** MMR-diversified retrieval: the 100-candidate ANN pool for query
      * vector 0 greedily reranked to 5 results trading relevance (λ=0.7)
      * against redundancy — the post-recall step that keeps a RAG result
      * list from returning five copies of the same passage. The oracle
      * replays the greedy argmax step by step. */
    QueryDef("q129_mmr_diversify", (s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.mmrRerank(e.filter(col("vec_id") === 0), e,
        k = 5, lambdaBp = 7000, pool = 100)
    },
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
         pool AS (SELECT vec_id,
                         round(list_cosine_similarity(qv, v), 6) AS qsim, v
                  FROM e, q WHERE vec_id <> 0
                  ORDER BY qsim DESC, vec_id LIMIT 100),
         ps AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                       round(list_cosine_similarity(a.v, b.v), 6) AS s
                FROM pool a JOIN pool b ON a.vec_id < b.vec_id),
         s1 AS (SELECT vec_id, qsim, qsim AS score FROM pool
                ORDER BY qsim DESC, vec_id LIMIT 1),
         s2 AS (SELECT c.vec_id, c.qsim,
                       round(0.7 * c.qsim - 0.3 * (
                         SELECT max(p.s) FROM ps p JOIN s1 s
                           ON p.id_a = least(c.vec_id, s.vec_id)
                          AND p.id_b = greatest(c.vec_id, s.vec_id)), 6) AS score
                FROM pool c WHERE c.vec_id NOT IN (SELECT vec_id FROM s1)
                ORDER BY score DESC, c.vec_id LIMIT 1),
         sel2 AS (SELECT vec_id FROM s1 UNION ALL SELECT vec_id FROM s2),
         s3 AS (SELECT c.vec_id, c.qsim,
                       round(0.7 * c.qsim - 0.3 * (
                         SELECT max(p.s) FROM ps p JOIN sel2 s
                           ON p.id_a = least(c.vec_id, s.vec_id)
                          AND p.id_b = greatest(c.vec_id, s.vec_id)), 6) AS score
                FROM pool c WHERE c.vec_id NOT IN (SELECT vec_id FROM sel2)
                ORDER BY score DESC, c.vec_id LIMIT 1),
         sel3 AS (SELECT vec_id FROM sel2 UNION ALL SELECT vec_id FROM s3),
         s4 AS (SELECT c.vec_id, c.qsim,
                       round(0.7 * c.qsim - 0.3 * (
                         SELECT max(p.s) FROM ps p JOIN sel3 s
                           ON p.id_a = least(c.vec_id, s.vec_id)
                          AND p.id_b = greatest(c.vec_id, s.vec_id)), 6) AS score
                FROM pool c WHERE c.vec_id NOT IN (SELECT vec_id FROM sel3)
                ORDER BY score DESC, c.vec_id LIMIT 1),
         sel4 AS (SELECT vec_id FROM sel3 UNION ALL SELECT vec_id FROM s4),
         s5 AS (SELECT c.vec_id, c.qsim,
                       round(0.7 * c.qsim - 0.3 * (
                         SELECT max(p.s) FROM ps p JOIN sel4 s
                           ON p.id_a = least(c.vec_id, s.vec_id)
                          AND p.id_b = greatest(c.vec_id, s.vec_id)), 6) AS score
                FROM pool c WHERE c.vec_id NOT IN (SELECT vec_id FROM sel4)
                ORDER BY score DESC, c.vec_id LIMIT 1)
         SELECT CAST(1 AS BIGINT) AS rank, vec_id, qsim, score FROM s1
         UNION ALL SELECT 2, vec_id, qsim, score FROM s2
         UNION ALL SELECT 3, vec_id, qsim, score FROM s3
         UNION ALL SELECT 4, vec_id, qsim, score FROM s4
         UNION ALL SELECT 5, vec_id, qsim, score FROM s5"""),

    /** Vocabulary encoding — the id-ification step between text and a
      * training shard: build the corpus top-1000 vocabulary (rank = id),
      * then per doc count OOV tokens and emit the first 16 token ids
      * (OOV → 0) as a csv audit column. The vocab is bounded and
      * broadcast; the rank window runs on 1000 rows by construction.
      * Per-doc id order comes from posexplode, so the collect_list is
      * sorted by position before slicing — deterministic in both
      * engines. */
    QueryDef("q130_vocab_encode", (s, dir) => {
      val toks = t(s, dir, "documents")
        .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "w")))
      val vocab = toks.groupBy(col("w")).agg(count(lit(1)).as("cn"))
        .orderBy(col("cn").desc, col("w")).limit(1000)
        .withColumn("id",
          row_number().over(Window.orderBy(col("cn").desc, col("w"))).cast("bigint"))
        .select(col("w"), col("id"))
      toks.join(broadcast(vocab), Seq("w"), "left")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tokens"),
          sum(when(col("id").isNull, 1L).otherwise(0L)).as("n_oov"),
          array_join(slice(expr(
            "transform(array_sort(collect_list(struct(pos, id))), " +
              "x -> cast(coalesce(x.id, 0) as string))"), 1, 16), ",")
            .as("head_ids"))
    },
      """WITH toks AS (
           SELECT doc_id, u.pos AS pos, u.w AS w FROM (
             SELECT doc_id,
                    unnest(list_transform(range(0, len(s)),
                           i -> struct_pack(pos := i, w := s[i + 1]))) AS u
             FROM (SELECT doc_id, string_split(text, ' ') AS s
                   FROM documents))),
         vocab AS (
           SELECT w, CAST(ROW_NUMBER() OVER (ORDER BY cn DESC, w) AS BIGINT) AS id
           FROM (SELECT w, count(*) AS cn FROM toks GROUP BY w)
           ORDER BY cn DESC, w LIMIT 1000),
         enc AS (SELECT t.doc_id, t.pos, v.id
                 FROM toks t LEFT JOIN vocab v USING (w))
         SELECT doc_id, count(*) AS n_tokens,
                CAST(sum(CASE WHEN id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
                string_agg(CAST(coalesce(id, 0) AS VARCHAR), ',' ORDER BY pos)
                  FILTER (WHERE pos < 16) AS head_ids
         FROM enc GROUP BY doc_id"""),

    /** Feature hashing (the hashing-vectorizer trick): bag-of-words
      * counts folded into 16 fixed buckets by the last md5 hex digit —
      * fixed-dimension features with no vocabulary to ship. Emitted as
      * (doc_id, bucket, n) rows, the sparse form a trainer consumes;
      * one explode + one partial-aggregated groupBy, bucket count
      * constant at any corpus size. */
    QueryDef("q131_feature_hash", (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
        .withColumn("bucket",
          (expr("instr('0123456789abcdef', substring(md5(w), 32, 1))") - 1)
            .cast("bigint"))
        .groupBy(col("doc_id"), col("bucket"))
        .agg(count(lit(1)).as("n")),
      """SELECT doc_id,
                CAST(instr('0123456789abcdef', substr(md5(w), 32, 1)) - 1
                  AS BIGINT) AS bucket,
                count(*) AS n
         FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
               FROM documents)
         GROUP BY 1, 2"""),

    /** Snapshot diff report: two deterministic versions of lineitem
      * (old = keys ∉ 7ℤ, new = keys ∉ 5ℤ with quantities bumped on 3ℤ)
      * reconciled by [[graft.store.SnapshotDiff]] — one full-outer
      * hash join, per-class row counts. The promote-gate report every
      * rebuilt table should pass through. */
    QueryDef("q132_snapshot_diff", (s, dir) => {
      val li = t(s, dir, "lineitem").select(col("l_orderkey").as("k1"),
        col("l_linenumber").as("k2"), col("l_quantity").as("qty"))
      val vOld = li.filter(col("k1") % 7 =!= 0)
      val vNew = li.filter(col("k1") % 5 =!= 0)
        .withColumn("qty",
          when(col("k1") % 3 === 0, col("qty") + 1).otherwise(col("qty")))
      graft.store.SnapshotDiff.summary(vOld, vNew, Seq("k1", "k2"), Seq("qty"))
    },
      """WITH li AS (SELECT l_orderkey AS k1, l_linenumber AS k2,
                           l_quantity AS qty
                     FROM lineitem),
         o AS (SELECT k1, k2, qty FROM li WHERE k1 % 7 <> 0),
         n AS (SELECT k1, k2,
                      CASE WHEN k1 % 3 = 0 THEN qty + 1 ELSE qty END AS qty
               FROM li WHERE k1 % 5 <> 0)
         SELECT CASE WHEN o.k1 IS NULL THEN 'added'
                     WHEN n.k1 IS NULL THEN 'removed'
                     WHEN o.qty IS DISTINCT FROM n.qty THEN 'changed'
                     ELSE 'unchanged' END AS change,
                count(*) AS n
         FROM o FULL OUTER JOIN n ON o.k1 = n.k1 AND o.k2 = n.k2
         GROUP BY 1"""),

    /** Overlapping RAG chunks: 256-token windows at stride 192 (64-token
      * overlap so no sentence is orphaned at a boundary) — q41 chunks
      * without overlap for training shards; retrieval chunking wants the
      * overlap. Chunk count is the smallest m whose last window reaches
      * the end: greatest(1, (n−65) div 192 + 1) — NOT ceil(n/192), which
      * would emit a final chunk fully contained in the previous window
      * whenever n mod 192 ≤ 64 (an exact-duplicate tail in the index for
      * ~a third of long docs). Pure scan-local arithmetic, one explode,
      * no shuffle. */
    QueryDef("q133_chunk_overlap", (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), TextOps.wordCount(col("text")).as("n_tok"))
        .withColumn("chunk_id",
          explode(sequence(lit(0L),
            expr("greatest(1L, (n_tok - 65) div 192 + 1) - 1"))))
        .select(col("doc_id"), col("chunk_id"),
          (col("chunk_id") * 192).as("start_tok"),
          least(lit(256L), col("n_tok") - col("chunk_id") * 192)
            .as("n_chunk_toks")),
      """WITH d AS (SELECT doc_id,
                          CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
                          greatest(1, (CAST(len(string_split(text, ' ')) AS BIGINT)
                                       - 65) // 192 + 1) AS n_chunks
                   FROM documents)
         SELECT doc_id,
                unnest(range(0, n_chunks)) AS chunk_id,
                unnest(list_transform(range(0, n_chunks),
                       c -> c * 192)) AS start_tok,
                unnest(list_transform(range(0, n_chunks),
                       c -> least(256, n_tok - c * 192))) AS n_chunk_toks
         FROM d"""),

    /** CUSUM change-point detection per event type: the day where the
      * cumulative deviation of daily value mass from the overall rate is
      * largest — "when did this metric's behavior shift". The deviation
      * is cross-multiplied integers (dev_d = c_d·M − T·m_d, daily cents
      * × total count minus total cents × daily count), so the cumulative
      * sum and its argmax are exact in any engine; ties break to the
      * earliest day. int64 holds to ~petabyte-scale event tables (cents·
      * count products ≈ 2e18 at 1000× this data; past that, pre-scale
      * cents to dollars). */
    QueryDef("q134_cusum_changepoint", (s, dir) => {
      val daily = t(s, dir, "events")
        .groupBy(col("event_type"), col("ts").cast("date").as("day"))
        .agg(sum(round(col("value") * 100).cast("bigint")).as("c"),
          count(lit(1)).as("m"))
      val tot = daily.groupBy(col("event_type"))
        .agg(sum(col("c")).as("tc"), sum(col("m")).as("tm"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      daily.join(broadcast(tot), "event_type")
        .withColumn("cusum",
          sum(col("c") * col("tm") - col("tc") * col("m")).over(w))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_days"),
          min_by(col("day"),
            struct((-abs(col("cusum"))).as("a"), col("day").as("b")))
            .as("change_day"),
          max(abs(col("cusum"))).as("cusum_abs"))
    },
      """WITH daily AS (
           SELECT event_type, CAST(ts AS DATE) AS day,
                  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS c,
                  count(*) AS m
           FROM events GROUP BY 1, 2),
         tot AS (SELECT event_type, CAST(sum(c) AS BIGINT) AS tc,
                        CAST(sum(m) AS BIGINT) AS tm
                 FROM daily GROUP BY event_type),
         cs AS (SELECT d.event_type, d.day,
                       CAST(sum(d.c * t.tm - t.tc * d.m) OVER (
                         PARTITION BY d.event_type ORDER BY d.day
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                         AS BIGINT) AS cusum
                FROM daily d JOIN tot t USING (event_type))
         SELECT event_type, n_days, day AS change_day,
                CAST(abs(cusum) AS BIGINT) AS cusum_abs
         FROM (SELECT event_type, day, cusum,
                      count(*) OVER (PARTITION BY event_type) AS n_days,
                      ROW_NUMBER() OVER (PARTITION BY event_type
                        ORDER BY abs(cusum) DESC, day) AS rn
               FROM cs)
         WHERE rn = 1"""),

    /** Quality-score calibration: does q21's composite score actually
      * separate near-duplicates? Docs bucketed by fixed score bands
      * (scan-local — a global ntile would single-partition the corpus),
      * near-dup membership from the LSH pipeline as the label, dup rate
      * per band in floor-bp. The validate-your-heuristic readout every
      * filter threshold decision needs. */
    QueryDef("q135_quality_calibration", (s, dir) => {
      val docs = t(s, dir, "documents")
      val qual = TextOps.qualityFeatures(docs)
        .select(col("doc_id"), col("quality_score_bp"))
      val pairs = MinHashLsh.nearDuplicates(docs, threshold = 0.2)
      val dupDocs = pairs.select(col("doc_a").as("doc_id"))
        .union(pairs.select(col("doc_b").as("doc_id"))).distinct()
        .withColumn("is_dup", lit(true))
      qual.join(dupDocs, Seq("doc_id"), "left")
        .select(col("quality_score_bp"),
          coalesce(col("is_dup"), lit(false)).as("is_dup"))
        .groupBy(expr("least(quality_score_bp div 1000, 9)").as("score_bucket"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("is_dup"), 1L).otherwise(0L)).as("n_dup"),
          floor(sum(when(col("is_dup"), 1L).otherwise(0L)) * lit(10000.0)
            / count(lit(1))).cast("bigint").as("dup_rate_bp"))
    },
      s"""WITH q AS (
           SELECT doc_id,
                  $qualityScoreBp AS quality_score_bp
           FROM documents),
         $minhashPairCtes,
         ver AS (
           SELECT doc_a, doc_b FROM inter
           JOIN sz sa ON sa.doc_id = doc_a
           JOIN sz sb ON sb.doc_id = doc_b
           WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.2),
         dup AS (SELECT DISTINCT doc_id FROM (
           SELECT doc_a AS doc_id FROM ver
           UNION ALL SELECT doc_b AS doc_id FROM ver)),
         j AS (SELECT q.doc_id, q.quality_score_bp,
                      (d.doc_id IS NOT NULL) AS is_dup
               FROM q LEFT JOIN dup d USING (doc_id))
         SELECT least(quality_score_bp // 1000, 9) AS score_bucket,
                count(*) AS n_docs,
                CAST(sum(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
                CAST(floor(sum(CASE WHEN is_dup THEN 1 ELSE 0 END) * 10000.0
                           / count(*)) AS BIGINT) AS dup_rate_bp
         FROM j GROUP BY 1"""),

    /** Frame-level dedup over the multimodal stub pipeline: sample every
      * 2nd 64-byte "frame" per payload (q31/q32's decode seam), hash
      * each frame, report sampled vs distinct counts per doc — the
      * static-scene/duplicate-frame detector a video ingest runs before
      * paying for per-frame feature extraction. Frames are hashed via
      * their hex encoding so the DuckDB oracle (no blob substring)
      * replays the exact same bytes. */
    QueryDef("q136_frame_dedup", (s, dir) => {
      val media = Multimodal.toMedia(t(s, dir, "documents"))
      Multimodal.sampleFrames(media, frameBytes = 64, stride = 2).toDF()
        .select(col("doc_id"), explode(col("frames")).as("f"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_frames"),
          countDistinct(md5(hex(col("f")))).as("n_distinct_frames"))
    },
      """WITH b AS (SELECT doc_id, upper(hex(CAST(text AS BLOB))) AS h,
                          octet_length(CAST(text AS BLOB)) AS n
                   FROM documents),
         fr AS (SELECT doc_id,
                       unnest(list_transform(range(0, (n + 63) // 64),
                              i -> CASE WHEN i % 2 = 0
                                   THEN substr(h, CAST(i * 128 + 1 AS BIGINT), 128)
                                   END)) AS f
                FROM b)
         SELECT doc_id, count(f) AS n_frames,
                CAST(count(DISTINCT md5(f)) AS BIGINT) AS n_distinct_frames
         FROM fr WHERE f IS NOT NULL GROUP BY doc_id"""),

    /** Corpus novelty curve: per doc, the fraction of its 8-grams first
      * contributed by THAT doc (ingest order = doc_id) — the
      * diminishing-returns readout that says when a feed stops adding
      * new content and starts re-serving it. Two partial-aggregated
      * shuffles (per-gram first-doc, per-doc rollup), both on hashed
      * keys; exact integer counts, floor-bp ratio. */
    QueryDef("q137_ngram_novelty", (s, dir) => {
      import graft.functions.WordShingles.word_shingles
      val grams = Spread.scan(t(s, dir, "documents")) // 8-gram explode
        .select(col("doc_id"),
          explode(array_distinct(word_shingles(col("text"), 8))).as("g"))
      val first = grams.groupBy(col("g")).agg(min(col("doc_id")).as("first_doc"))
      grams.join(first, "g")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_grams"),
          sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
            .as("n_novel"),
          floor(sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
            * lit(10000.0) / count(lit(1))).cast("bigint").as("novelty_bp"))
    },
      """WITH g AS (
           SELECT DISTINCT doc_id,
                  unnest(list_transform(range(1, len(s) - 6),
                         i -> s[i] || ' ' || s[i+1] || ' ' || s[i+2] || ' ' ||
                              s[i+3] || ' ' || s[i+4] || ' ' || s[i+5] || ' ' ||
                              s[i+6] || ' ' || s[i+7])) AS gr
           FROM (SELECT doc_id, string_split(text, ' ') AS s FROM documents)),
         f AS (SELECT gr, min(doc_id) AS first_doc FROM g GROUP BY gr)
         SELECT doc_id, count(*) AS n_grams,
                CAST(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_novel,
                CAST(floor(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END)
                           * 10000.0 / count(*)) AS BIGINT) AS novelty_bp
         FROM g JOIN f USING (gr) GROUP BY doc_id"""),

    /** Burstiness (Fano factor) of daily event counts per type:
      * variance-to-mean ratio — 1 ≈ Poisson arrivals, ≫1 = bursty
      * (bot traffic, batch replays). Computed as
      * (n·Σx² − (Σx)²) / ((n−1)·Σx): every term is an exact int64
      * cross-product, only the final ratio is float — the same
      * engine-exactness discipline as q109/q134. */
    QueryDef("q138_burstiness", (s, dir) =>
      t(s, dir, "events")
        .groupBy(col("event_type"), col("ts").cast("date").as("day"))
        .agg(count(lit(1)).as("x"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_days"), sum(col("x")).as("sx"),
          sum(col("x") * col("x")).as("sxx"))
        .select(col("event_type"), col("n_days"), col("sx").as("n_events"),
          round((col("n_days") * col("sxx") - col("sx") * col("sx"))
            .cast("double")
            / ((col("n_days") - 1) * col("sx")).cast("double"), 6)
            .as("fano")),
      """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
                              count(*) AS x
                       FROM events GROUP BY 1, 2),
         m AS (SELECT event_type, count(*) AS n_days,
                      CAST(sum(x) AS BIGINT) AS sx,
                      CAST(sum(x * x) AS BIGINT) AS sxx
               FROM daily GROUP BY event_type)
         SELECT event_type, n_days, sx AS n_events,
                round(CAST(n_days * sxx - sx * sx AS DOUBLE)
                      / CAST((n_days - 1) * sx AS DOUBLE), 6) AS fano
         FROM m"""),

    /** Audience overlap matrix: distinct-user Jaccard between every
      * event-type pair — "are these two features used by the same
      * people". Distinct (type, user) dedupes map-side; the pair join
      * fans out per user by the TYPE count (bounded), never by user
      * count; counts are exact ints, one rounded division at the end. */
    QueryDef("q139_audience_overlap", (s, dir) => {
      val tu = t(s, dir, "events")
        .select(col("event_type"), col("user_id")).distinct()
      val sizes = tu.groupBy(col("event_type")).agg(count(lit(1)).as("nu"))
      val inter = tu.select(col("event_type").as("et_a"), col("user_id"))
        .join(tu.select(col("event_type").as("et_b"), col("user_id")),
          Seq("user_id"))
        .filter(col("et_a") < col("et_b"))
        .groupBy(col("et_a"), col("et_b"))
        .agg(count(lit(1)).as("n_both"))
      inter
        .join(broadcast(sizes.select(col("event_type").as("et_a"),
          col("nu").as("n_a"))), Seq("et_a"))
        .join(broadcast(sizes.select(col("event_type").as("et_b"),
          col("nu").as("n_b"))), Seq("et_b"))
        .select(col("et_a"), col("et_b"), col("n_a"), col("n_b"), col("n_both"),
          round(col("n_both").cast("double")
            / (col("n_a") + col("n_b") - col("n_both")), 6).as("jaccard"))
    },
      """WITH tu AS (SELECT DISTINCT event_type, user_id FROM events),
         sizes AS (SELECT event_type, count(*) AS nu FROM tu GROUP BY 1),
         inter AS (SELECT a.event_type AS et_a, b.event_type AS et_b,
                          count(*) AS n_both
                   FROM tu a JOIN tu b
                     ON a.user_id = b.user_id
                    AND a.event_type < b.event_type
                   GROUP BY 1, 2)
         SELECT et_a, et_b, sa.nu AS n_a, sb.nu AS n_b, n_both,
                round(CAST(n_both AS DOUBLE)
                      / (sa.nu + sb.nu - n_both), 6) AS jaccard
         FROM inter
         JOIN sizes sa ON sa.event_type = et_a
         JOIN sizes sb ON sb.event_type = et_b"""),

    /** Degree distribution of the part↔supplier graph: nodes per
      * (side, degree) — the first thing to look at before choosing a
      * partitioning strategy for any graph workload (a power-law tail
      * means salting/broadcast decisions). Exact counts, two
      * partial-aggregated shuffles. */
    QueryDef("q140_degree_dist", (s, dir) =>
      Graph.bipartiteEdgesLong(t(s, dir, "lineitem"),
        "l_partkey", "l_suppkey")
        .groupBy(col("src")).agg(count(lit(1)).as("degree"))
        .groupBy(when(col("src") % 2 === 0, "p").otherwise("s").as("side"),
          col("degree"))
        .agg(count(lit(1)).as("n_nodes")),
      """WITH pairs AS (SELECT DISTINCT 'p' || CAST(l_partkey AS VARCHAR) AS a,
                               's' || CAST(l_suppkey AS VARCHAR) AS b
                        FROM lineitem),
         edges AS (SELECT a AS src FROM pairs
                   UNION ALL SELECT b AS src FROM pairs),
         deg AS (SELECT src, count(*) AS degree FROM edges GROUP BY src)
         SELECT substr(src, 1, 1) AS side, degree, count(*) AS n_nodes
         FROM deg GROUP BY 1, 2"""),

    /** One-pass data profile of the events table: row/null/distinct
      * counts and value range — the first query any ingested table gets.
      * Exact count-distincts here (bounded columns); swap
      * approx_count_distinct for unbounded ones (q73 shows the
      * contract). */
    QueryDef("q141_profile", (s, dir) =>
      t(s, dir, "events").agg(
        count(lit(1)).as("n_rows"),
        sum(when(col("props").isNull, 1L).otherwise(0L)).as("n_null_props"),
        countDistinct(col("event_type")).as("n_types"),
        countDistinct(col("user_id")).as("n_users"),
        round(min(col("value")), 2).as("min_value"),
        round(max(col("value")), 2).as("max_value")),
      """SELECT count(*) AS n_rows,
                CAST(sum(CASE WHEN props IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_null_props,
                CAST(count(DISTINCT event_type) AS BIGINT) AS n_types,
                CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
                round(min(value), 2) AS min_value,
                round(max(value), 2) AS max_value
         FROM events"""),

    /** Referential-integrity check across the star schema's FK chains:
      * orphan counts per relation via left-anti joins (the broadcast-able
      * dimension side makes each check one fact scan). Zero rows is the
      * healthy answer — the query emits the count per relation either
      * way so the gate can assert == 0. */
    QueryDef("q142_ri_check", (s, dir) => {
      val li = t(s, dir, "lineitem")
      val ords = t(s, dir, "orders")
      def orphanCount(name: String, fact: DataFrame, key: String,
          dim: DataFrame, dimKey: String): DataFrame =
        fact.join(dim.select(col(dimKey).as(key)), Seq(key), "left_anti")
          .agg(count(lit(1)).as("n_orphans"))
          .select(lit(name).as("relation"), col("n_orphans"))
      orphanCount("lineitem->part", li, "l_partkey", t(s, dir, "part"), "p_partkey")
        .unionAll(orphanCount("lineitem->supplier", li, "l_suppkey",
          t(s, dir, "supplier"), "s_suppkey"))
        .unionAll(orphanCount("lineitem->orders", li, "l_orderkey",
          ords, "o_orderkey"))
        .unionAll(orphanCount("orders->customer", ords, "o_custkey",
          t(s, dir, "customer"), "c_custkey"))
    },
      """SELECT 'lineitem->part' AS relation,
                (SELECT count(*) FROM lineitem l
                 WHERE NOT EXISTS (SELECT 1 FROM part p
                                   WHERE p.p_partkey = l.l_partkey)) AS n_orphans
         UNION ALL
         SELECT 'lineitem->supplier',
                (SELECT count(*) FROM lineitem l
                 WHERE NOT EXISTS (SELECT 1 FROM supplier s
                                   WHERE s.s_suppkey = l.l_suppkey))
         UNION ALL
         SELECT 'lineitem->orders',
                (SELECT count(*) FROM lineitem l
                 WHERE NOT EXISTS (SELECT 1 FROM orders o
                                   WHERE o.o_orderkey = l.l_orderkey))
         UNION ALL
         SELECT 'orders->customer',
                (SELECT count(*) FROM orders o
                 WHERE NOT EXISTS (SELECT 1 FROM customer c
                                   WHERE c.c_custkey = o.o_custkey))"""),

    /** Freshness report: per event type, the latest event and its lag
      * behind the stream head in seconds — the staleness gate a
      * multi-feed ingest checks before publishing a snapshot. One
      * groupBy plus a broadcast 1-row global. */
    QueryDef("q143_freshness", (s, dir) => {
      val ev = t(s, dir, "events")
      val g = ev.agg(max(col("ts")).as("global_max"))
      ev.groupBy(col("event_type"))
        .agg(max(col("ts")).as("latest"), count(lit(1)).as("n"))
        .crossJoin(broadcast(g))
        .select(col("event_type"), col("n"), col("latest"),
          (col("global_max").cast("timestamp_ltz").cast("long")
            - col("latest").cast("timestamp_ltz").cast("long")).as("lag_s"))
    },
      """WITH g AS (SELECT max(ts) AS gm FROM events)
         SELECT event_type, count(*) AS n, max(ts) AS latest,
                CAST(date_diff('second', max(ts), gm) AS BIGINT) AS lag_s
         FROM events, g GROUP BY event_type, gm"""),

    /** Tokenizer fertility per language: BPE-ish tokens per whitespace
      * word in floor-bp — the metric that says which languages your
      * tokenizer fragments (fertility ≫ 1 means context windows hold
      * less text). Exact integer token/word counts, one tiny group
      * agg. */
    QueryDef("q144_fertility", (s, dir) =>
      t(s, dir, "documents")
        .select(col("lang"), TextOps.wordCount(col("text")).as("nw"),
          TextOps.tokenCount(col("text")).as("nt"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("nw")).as("n_words"),
          sum(col("nt")).as("n_tokens"),
          floor(sum(col("nt")) * lit(10000.0) / sum(col("nw")))
            .cast("bigint").as("fertility_bp")),
      """SELECT lang, count(*) AS n_docs,
                CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_words,
                CAST(sum(len(regexp_extract_all(text,
                     '([A-Za-z]+|[0-9]+|[^A-Za-z0-9 ])', 1))) AS BIGINT)
                  AS n_tokens,
                CAST(floor(sum(len(regexp_extract_all(text,
                     '([A-Za-z]+|[0-9]+|[^A-Za-z0-9 ])', 1))) * 10000.0
                     / sum(len(string_split(text, ' ')))) AS BIGINT)
                  AS fertility_bp
         FROM documents GROUP BY lang"""),

    /** Dedup impact summary: corpus token mass before dedup, after the
      * exact-dup keeper, and after the near-dup group keeper — the
      * "what does dedup actually buy" number that justifies the LSH
      * pass's cost. Reuses the q24 keeper rule and the q35 group
      * keeper verbatim; one row, exact integer sums. */
    QueryDef("q145_dedup_impact", (s, dir) => {
      val docs = t(s, dir, "documents")
      val toks = docs.select(col("doc_id"), md5(col("text")).as("h"),
        TextOps.wordCount(col("text")).as("nt"))
      val keepers = docs.groupBy(md5(col("text")).as("h"))
        .agg(min(col("doc_id")).as("keeper"))
      val groups = DedupGroups.dedupGroups(docs, threshold = 0.2)
        .select(col("doc_id"), col("group_id"))
      toks
        .join(keepers, Seq("h"))
        .join(groups, Seq("doc_id"), "left")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("nt")).as("tokens_raw"),
          sum(when(col("doc_id") === col("keeper"), col("nt")).otherwise(0L))
            .as("tokens_exact_kept"),
          sum(when(col("doc_id") === col("keeper") &&
            (col("group_id").isNull || col("group_id") === col("doc_id")),
            col("nt")).otherwise(0L)).as("tokens_neardup_kept"))
    },
      s"""WITH RECURSIVE $minhashComponentCtes,
         grp AS (SELECT doc_id, min(r) AS group_id FROM reach GROUP BY doc_id),
         tk AS (SELECT doc_id, md5(text) AS h,
                       CAST(len(string_split(text, ' ')) AS BIGINT) AS nt
                FROM documents),
         kp AS (SELECT md5(text) AS h, min(doc_id) AS keeper
                FROM documents GROUP BY 1)
         SELECT count(*) AS n_docs,
                CAST(sum(nt) AS BIGINT) AS tokens_raw,
                CAST(sum(CASE WHEN tk.doc_id = kp.keeper THEN nt ELSE 0 END)
                  AS BIGINT) AS tokens_exact_kept,
                CAST(sum(CASE WHEN tk.doc_id = kp.keeper
                              AND (g.group_id IS NULL OR g.group_id = tk.doc_id)
                              THEN nt ELSE 0 END) AS BIGINT)
                  AS tokens_neardup_kept
         FROM tk JOIN kp USING (h)
         LEFT JOIN grp g ON g.doc_id = tk.doc_id"""),

    /** Context-length histogram: docs per power-of-2 token-length bucket
      * — the distribution that picks training context length and
      * packing capacity. floor(log2(n)) is exact for the integer inputs
      * (powers of two are exact doubles), counts are exact. */
    QueryDef("q146_context_hist", (s, dir) =>
      t(s, dir, "documents")
        .select(TextOps.wordCount(col("text")).as("nt"))
        .groupBy(floor(log(2.0, col("nt").cast("double"))).cast("bigint")
          .as("log2_bucket"))
        .agg(count(lit(1)).as("n_docs"), min(col("nt")).as("min_toks"),
          max(col("nt")).as("max_toks")),
      """SELECT CAST(floor(log2(CAST(len(string_split(text, ' ')) AS DOUBLE)))
                  AS BIGINT) AS log2_bucket,
                count(*) AS n_docs,
                CAST(min(len(string_split(text, ' '))) AS BIGINT) AS min_toks,
                CAST(max(len(string_split(text, ' '))) AS BIGINT) AS max_toks
         FROM documents GROUP BY 1"""),

    /** Late-shipment order mix (the TPC-H Q4 shape): orders with ANY
      * lineitem shipped more than 60 days after the order date, counted
      * per priority — an EXISTS turned into one conditioned left-semi
      * hash join (the key equi-condition drives the join; the lag
      * predicate filters matches, no nested loop). */
    QueryDef("q147_priority_late", (s, dir) =>
      t(s, dir, "orders").as("o")
        .join(t(s, dir, "lineitem").as("l"),
          expr("l.l_orderkey = o.o_orderkey AND " +
            "datediff(l.l_shipdate, o.o_orderdate) > 60"), "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_late_orders")),
      """SELECT o_orderpriority, count(*) AS n_late_orders
         FROM orders o
         WHERE EXISTS (SELECT 1 FROM lineitem l
                       WHERE l.l_orderkey = o.o_orderkey
                         AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
         GROUP BY 1"""),

    /** Returned-revenue top customers (the TPC-H Q10 shape): revenue of
      * R-flagged items per customer, top 20. Revenue is fixed to cents
      * PER ROW (the per-row double product is bit-identical in both
      * engines; the sum is then exact int64) — the discipline that makes
      * a revenue ranking replayable instead of
      * float-add-order-dependent. */
    QueryDef("q148_returns_top", (s, dir) => {
      val li = t(s, dir, "lineitem").filter(col("l_returnflag") === "R")
        .select(col("l_orderkey"),
          expr("cast(round(l_extendedprice * (1 - l_discount) * 100) as bigint)")
            .as("rev_cents"))
      val ords = t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
      val cust = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      li.join(ords, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_custkey"))
        .agg(sum(col("rev_cents")).as("returned_cents"),
          count(lit(1)).as("n_items"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment"),
          col("n_items"), col("returned_cents"))
        .orderBy(col("returned_cents").desc, col("c_custkey"))
        .limit(20)
    },
      """SELECT c_custkey, c_name, c_mktsegment,
                count(*) AS n_items,
                CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                              AS BIGINT)) AS BIGINT) AS returned_cents
         FROM lineitem
         JOIN orders ON o_orderkey = l_orderkey
         JOIN customer ON c_custkey = o_custkey
         WHERE l_returnflag = 'R'
         GROUP BY 1, 2, 3
         ORDER BY returned_cents DESC, c_custkey LIMIT 20"""),

    /** Gini coefficient of per-user activity per event type — the
      * inequality readout ("is this feature carried by ten power
      * users"). G = (2Σi·xᵢ − (n+1)Σx) / (n·Σx) over ascending-sorted
      * counts: every sum is exact int64 (ranks from a per-type window,
      * ties broken by user_id), one rounded division at the end. The
      * rank window partitions by type — per-partition state is the
      * type's user count, the same accepted shape as q99. */
    QueryDef("q149_gini", (s, dir) => {
      val ua = t(s, dir, "events")
        .groupBy(col("event_type"), col("user_id"))
        .agg(count(lit(1)).as("x"))
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("x"), col("user_id"))
      ua.withColumn("i", row_number().over(w).cast("long"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_users"), sum(col("x")).as("total"),
          sum(col("i") * col("x")).as("six"))
        .select(col("event_type"), col("n_users"), col("total"),
          round((lit(2L) * col("six") - (col("n_users") + 1) * col("total"))
            .cast("double")
            / (col("n_users") * col("total")).cast("double"), 6).as("gini"))
    },
      """WITH ua AS (SELECT event_type, user_id, count(*) AS x
                     FROM events GROUP BY 1, 2),
         r AS (SELECT event_type, x,
                      ROW_NUMBER() OVER (PARTITION BY event_type
                        ORDER BY x, user_id) AS i
               FROM ua),
         m AS (SELECT event_type, count(*) AS n_users,
                      CAST(sum(x) AS BIGINT) AS total,
                      CAST(sum(i * x) AS BIGINT) AS six
               FROM r GROUP BY 1)
         SELECT event_type, n_users, total,
                round(CAST(2 * six - (n_users + 1) * total AS DOUBLE)
                      / CAST(n_users * total AS DOUBLE), 6) AS gini
         FROM m"""),

    /** Chi-square independence of the lang × source grid — "is language
      * mix uniform across feeds, or does a source skew". The full grid
      * (including empty cells, which still contribute r·c/N) is built by
      * crossing the two margins; the deviation o·N − r·c is exact int64
      * (safe to ~3×10⁹ docs), squared in double — deterministic in both
      * engines — and terms are 8-dp-rounded before the bounded-cell
      * sum. */
    QueryDef("q150_chi2_independence", (s, dir) => {
      val docs = t(s, dir, "documents")
      val o = docs.groupBy(col("lang"), col("source")).agg(count(lit(1)).as("o"))
      val r = docs.groupBy(col("lang")).agg(count(lit(1)).as("r"))
      val c = docs.groupBy(col("source")).agg(count(lit(1)).as("c"))
      val n = docs.agg(count(lit(1)).as("nn"))
      // both margins are cardinality-bounded (langs × sources); broadcast
      // keeps the grid build a map-side replicate like every other
      // bounded cross join in this file
      r.crossJoin(broadcast(c))
        .join(o, Seq("lang", "source"), "left")
        .withColumn("o", coalesce(col("o"), lit(0L)))
        .crossJoin(broadcast(n))
        .withColumn("d", col("o") * col("nn") - col("r") * col("c"))
        .withColumn("term_e8", round(
          (col("d").cast("double") * col("d").cast("double"))
            / (col("nn") * col("r") * col("c")).cast("double") * lit(1e8))
          .cast("bigint")) // e8 ints: the cell sum is exact, not add-order luck
        .agg(count(lit(1)).as("n_cells"),
          round(sum(col("term_e8")).cast("double") / lit(1e8), 4).as("chi2"))
    },
      """WITH o AS (SELECT lang, source, count(*) AS o
                    FROM documents GROUP BY 1, 2),
         r AS (SELECT lang, count(*) AS r FROM documents GROUP BY 1),
         c AS (SELECT source, count(*) AS c FROM documents GROUP BY 1),
         n AS (SELECT count(*) AS nn FROM documents),
         grid AS (SELECT r.lang, c.source, r.r, c.c,
                         coalesce(o.o, 0) AS o
                  FROM r CROSS JOIN c
                  LEFT JOIN o ON o.lang = r.lang AND o.source = c.source),
         terms AS (SELECT CAST(round(
                     (CAST(o * nn - r * c AS DOUBLE)
                      * CAST(o * nn - r * c AS DOUBLE))
                     / CAST(nn * r * c AS DOUBLE) * 100000000) AS BIGINT)
                     AS term_e8
                   FROM grid, n)
         SELECT count(*) AS n_cells,
                round(CAST(sum(term_e8) AS BIGINT) / 100000000.0, 4) AS chi2
         FROM terms"""),

    /** Association rules over q111's (user, day) baskets: directed
      * a→b support / confidence / lift — the market-basket triple that
      * turns co-occurrence counts into recommendations. Confidence is
      * floor-bp on exact counts; lift is one rounded division of exact
      * int64 products. Basket keys bound the pair space at
      * |types|²; everything partial-aggregates map-side. */
    QueryDef("q151_assoc_rules", (s, dir) => {
      val items = t(s, dir, "events")
        .select(col("user_id"), col("ts").cast("date").as("day"),
          col("event_type")).distinct()
      val nBaskets = items.select(col("user_id"), col("day")).distinct()
        .agg(count(lit(1)).as("nb"))
      val itemN = items.groupBy(col("event_type")).agg(count(lit(1)).as("cn"))
      val a = items.select(col("user_id"), col("day"), col("event_type").as("ante"))
      val b = items.select(col("user_id"), col("day"), col("event_type").as("cons"))
      a.join(b, Seq("user_id", "day"))
        .filter(col("ante") =!= col("cons")) // directed rules, both ways
        .groupBy(col("ante"), col("cons"))
        .agg(count(lit(1)).as("support"))
        .join(broadcast(itemN.select(col("event_type").as("ante"),
          col("cn").as("n_ante"))), Seq("ante"))
        .join(broadcast(itemN.select(col("event_type").as("cons"),
          col("cn").as("n_cons"))), Seq("cons"))
        .crossJoin(broadcast(nBaskets))
        .select(col("ante"), col("cons"), col("support"),
          floor(col("support") * lit(10000.0) / col("n_ante")).cast("bigint")
            .as("confidence_bp"),
          round(col("support").cast("double") * col("nb")
            / (col("n_ante") * col("n_cons")).cast("double"), 6).as("lift"))
    },
      """WITH items AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day,
                               event_type
                        FROM events),
         nb AS (SELECT count(*) AS nb FROM
                (SELECT DISTINCT user_id, day FROM items)),
         itemn AS (SELECT event_type, count(*) AS cn
                   FROM items GROUP BY 1),
         sup AS (SELECT a.event_type AS ante, b.event_type AS cons,
                        count(*) AS support
                 FROM items a JOIN items b
                   ON a.user_id = b.user_id AND a.day = b.day
                  AND a.event_type <> b.event_type
                 GROUP BY 1, 2)
         SELECT ante, cons, support,
                CAST(floor(support * 10000.0 / na.cn) AS BIGINT)
                  AS confidence_bp,
                round(CAST(support AS DOUBLE) * nb.nb
                      / CAST(na.cn * nc.cn AS DOUBLE), 6) AS lift
         FROM sup
         JOIN itemn na ON na.event_type = ante
         JOIN itemn nc ON nc.event_type = cons
         CROSS JOIN nb"""),

    /** Directed PageRank with dangling-mass redistribution (3 unrolled
      * iterations): part→supplier edges only, so every supplier node is
      * DANGLING — its rank mass re-enters the walk as a uniform share
      * instead of leaking (q87's undirected graph can't exercise this;
      * without redistribution total mass here would shrink ~39% per
      * round). Same integer micro-unit recurrence, oracle-replayed. */
    QueryDef("q152_pagerank_dangling", (s, dir) => {
      // long ids through the rounds, decoded at output (see q87) — the
      // dangling recurrence aggregates rank values, never orders ids
      val edges = t(s, dir, "lineitem")
        .select(Graph.encodeLeft(col("l_partkey")).as("src"),
          Graph.encodeRight(col("l_suppkey")).as("dst"))
        .distinct()
      Graph.pageRankDirected(edges, maxIterations = 3)._1
        .select(Graph.decodeBipartite(col("node"), "p", "s").as("node"),
          col("rank").as("pr"))
    },
      // replays pageRankDirected's integer recurrence exactly: dangling
      // mass D_k = Σ pr over nodes with no out-edge, every node gets
      // base + Σcontrib + (D_k·85)//(100·N) each round
      s"""WITH $partSupplierNodeCtes,
         deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
         r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS pr FROM nodes),
         d1 AS (SELECT COALESCE(sum(pr), 0) AS dm FROM r0
                WHERE node NOT IN (SELECT src FROM deg)),
         it1 AS (SELECT n.node,
                        150000 + COALESCE(c.csum, 0)
                          + (d1.dm * 85) // (100 * nn.n) AS pr
                 FROM nodes n
                 LEFT JOIN (SELECT e.dst AS node,
                                   sum((r.pr * 85) // (100 * d.deg)) AS csum
                            FROM edges e JOIN r0 r ON r.node = e.src
                            JOIN deg d ON d.src = e.src
                            GROUP BY e.dst) c ON c.node = n.node,
                 d1, nn),
         d2 AS (SELECT COALESCE(sum(pr), 0) AS dm FROM it1
                WHERE node NOT IN (SELECT src FROM deg)),
         it2 AS (SELECT n.node,
                        150000 + COALESCE(c.csum, 0)
                          + (d2.dm * 85) // (100 * nn.n) AS pr
                 FROM nodes n
                 LEFT JOIN (SELECT e.dst AS node,
                                   sum((r.pr * 85) // (100 * d.deg)) AS csum
                            FROM edges e JOIN it1 r ON r.node = e.src
                            JOIN deg d ON d.src = e.src
                            GROUP BY e.dst) c ON c.node = n.node,
                 d2, nn),
         d3 AS (SELECT COALESCE(sum(pr), 0) AS dm FROM it2
                WHERE node NOT IN (SELECT src FROM deg)),
         it3 AS (SELECT n.node,
                        150000 + COALESCE(c.csum, 0)
                          + (d3.dm * 85) // (100 * nn.n) AS pr
                 FROM nodes n
                 LEFT JOIN (SELECT e.dst AS node,
                                   sum((r.pr * 85) // (100 * d.deg)) AS csum
                            FROM edges e JOIN it2 r ON r.node = e.src
                            JOIN deg d ON d.src = e.src
                            GROUP BY e.dst) c ON c.node = n.node,
                 d3, nn)
         SELECT node, CAST(pr AS BIGINT) AS pr FROM it3"""),

    /** ANN recall audit: per query, how many of the exact top-10 the
      * nprobe=1 IVF probe actually returned (basis points). The accuracy
      * contract for the approximate index — q91's pattern applied to
      * vector search: at 100 TB only the IVF path is affordable, and
      * this query is the gate that keeps its recall honest (nprobe and
      * re-fit cadence are tuned against exactly this readout). Counts
      * exact ints, one floor division — engine-stable. */
    QueryDef("q153_ann_recall", (s, dir) =>
      recallAt10(s, dir)((q, e) =>
        Similarity.ivfTopK(q, e, Similarity.centroids(e), k = 10, nprobe = 1)),
      // q29's brute-force top-k joined against q30's IVF top-k: recall@10
      s"""WITH e AS (SELECT label, vec_id, CAST(embedding AS DOUBLE[]) AS v
                    FROM embeddings),
         q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 20),
         b AS (SELECT q_id, vec_id FROM (
                 SELECT q.q_id, e.vec_id,
                        ROW_NUMBER() OVER (PARTITION BY q.q_id
                          ORDER BY round(list_cosine_similarity(q.qv, e.v), 6) DESC,
                                   e.vec_id) AS rank
                 FROM q, e)
               WHERE rank <= 10),
         $centroidCte,
         ${ivfProbesCte("= 1")},
         i AS (SELECT q_id, vec_id FROM (
                 SELECT p.q_id, e.vec_id,
                        ROW_NUMBER() OVER (PARTITION BY p.q_id
                          ORDER BY round(list_cosine_similarity(p.qv, e.v), 6) DESC,
                                   e.vec_id) AS rank
                 FROM probes p JOIN e ON e.label = p.probe_label)
               WHERE rank <= 10)
         ${recallSelect("i")}"""),

    /** Duplicate-span coverage: per document, the fraction of its
      * DISTINCT word-8-grams that also occur in at least one other
      * document, in basis points — the doc-level "how much of this text
      * is duplicated elsewhere" readout (the exact-substring-dedup
      * signal, doc-granular where q52 is gram-granular and q137 is
      * ingest-order-dependent). One gram explode + one df count + one
      * semi-join back; every aggregation partial-combines map-side, and
      * the gram space is the same one the LSH pipeline already shuffles. */
    QueryDef("q154_dup_span", (s, dir) => {
      val grams = t(s, dir, "documents")
        .select(col("doc_id"),
          explode(array_distinct(
            graft.functions.WordShingles.word_shingles(col("text"), 8))).as("g"))
      val shared = grams.groupBy(col("g")).agg(count(lit(1)).as("df"))
        .filter(col("df") >= 2).select(col("g"))
      val perDoc = grams.groupBy(col("doc_id")).agg(count(lit(1)).as("n_grams"))
      val dup = grams.join(shared, Seq("g"), "left_semi")
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_dup"))
      perDoc.join(dup, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_grams"),
          coalesce(col("n_dup"), lit(0L)).as("n_dup"),
          expr("(coalesce(n_dup, 0) * 10000) div n_grams").as("dup_bp"))
    },
      // q52's 8-gram spelling, folded back per doc: distinct grams,
      // df ≥ 2 marks a gram duplicated, coverage in floor basis points
      s"""WITH $word8GramCte,
         shared AS (SELECT gram FROM g GROUP BY gram HAVING count(*) >= 2),
         per AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams
                 FROM g GROUP BY doc_id),
         dup AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_dup
                 FROM g WHERE gram IN (SELECT gram FROM shared)
                 GROUP BY doc_id)
         SELECT p.doc_id, p.n_grams,
                CAST(COALESCE(d.n_dup, 0) AS BIGINT) AS n_dup,
                CAST((COALESCE(d.n_dup, 0) * 10000) // p.n_grams AS BIGINT)
                  AS dup_bp
         FROM per p LEFT JOIN dup d ON d.doc_id = p.doc_id"""),

    /** Triangle counts + local clustering coefficient over the embedding
      * near-dup graph (q28's build, loosened to label-blocked cosine
      * ≥ 0.25 so the graph has structure at every scale factor) via
      * degree-ordered orientation — the O(m^{3/2}) distributed algorithm,
      * skew-immune because orientation caps every out-degree at O(√m).
      * Coefficient in floor basis points, so the whole readout is
      * integer-exact. The structural companion to q35's components: CC
      * says WHICH docs clump, the coefficient says HOW CLIQUE-LIKE each
      * clump is (near-1 ⇒ true duplicate pile; low ⇒ chain of borderline
      * matches that transitive dedup would over-merge). */
    QueryDef("q155_triangle_coeff", (s, dir) =>
      Graph.triangleCounts(
        Similarity.nearDupPairs(t(s, dir, "embeddings"), threshold = 0.25)
          .select(col("vec_a").as("a"), col("vec_b").as("b"))),
      // naive a<b<c triple join — O(m^3/2) orientation is a Spark-side
      // optimization with identical counts; coefficient floor-divided
      s"""WITH $nearDupEdgeCtes,
         deg AS (SELECT node, count(*) AS deg FROM
                 (SELECT a AS node FROM ed UNION ALL SELECT b FROM ed)
                 GROUP BY node),
         tri AS (SELECT e1.a AS ta, e1.b AS tb, e2.b AS tc
                 FROM ed e1 JOIN ed e2 ON e2.a = e1.b
                 JOIN ed e3 ON e3.a = e1.a AND e3.b = e2.b),
         tc AS (SELECT node, count(*) AS tri FROM
                (SELECT ta AS node FROM tri UNION ALL SELECT tb FROM tri
                 UNION ALL SELECT tc FROM tri)
                GROUP BY node)
         SELECT d.node, CAST(d.deg AS BIGINT) AS deg,
                CAST(COALESCE(t.tri, 0) AS BIGINT) AS tri,
                CAST(CASE WHEN d.deg >= 2
                     THEN (COALESCE(t.tri, 0) * 2 * 10000)
                          // (d.deg * (d.deg - 1))
                     ELSE 0 END AS BIGINT) AS coeff_bp
         FROM deg d LEFT JOIN tc t ON t.node = d.node"""),

    /** Bounded k-core peel of the same near-dup graph: 3 synchronized
      * rounds of "drop nodes with degree < 2", survivors with their
      * in-core degree. The density gate on top of q155: a node outside
      * the 2-core hangs off the dup structure by a single edge (likely a
      * borderline false positive), while the core is the part worth
      * clustering. Fixed rounds keep the oracle replayable — extra
      * rounds past the fixpoint are no-ops, and the operator's
      * `rounds = -1` mode peels to the true core (spec-pinned). */
    QueryDef("q156_kcore_peel", (s, dir) =>
      Graph.kCorePeel(
        Similarity.nearDupPairs(t(s, dir, "embeddings"), threshold = 0.25)
          .select(col("vec_a").as("a"), col("vec_b").as("b")),
        k = 2, rounds = 3),
      // 3 unrolled peel rounds: degrees → keep (deg >= 2) → restrict
      s"""WITH $nearDupEdgeCtes,
         s0 AS (SELECT a AS s, b AS d FROM ed UNION ALL SELECT b, a FROM ed),
         k1 AS (SELECT s FROM s0 GROUP BY s HAVING count(*) >= 2),
         s1 AS (SELECT s, d FROM s0 WHERE s IN (SELECT s FROM k1)
                                      AND d IN (SELECT s FROM k1)),
         k2 AS (SELECT s FROM s1 GROUP BY s HAVING count(*) >= 2),
         s2 AS (SELECT s, d FROM s1 WHERE s IN (SELECT s FROM k2)
                                      AND d IN (SELECT s FROM k2)),
         k3 AS (SELECT s FROM s2 GROUP BY s HAVING count(*) >= 2),
         s3 AS (SELECT s, d FROM s2 WHERE s IN (SELECT s FROM k3)
                                      AND d IN (SELECT s FROM k3))
         SELECT s AS node, CAST(count(*) AS BIGINT) AS deg
         FROM s3 GROUP BY s"""),

    /** Common-neighbor link prediction over the near-dup graph: every
      * non-adjacent pair sharing ≥ 1 neighbor, with neighborhood Jaccard
      * in floor basis points plus integer-exact Adamic–Adar and
      * resource-allocation scores (promiscuous shared neighbors count
      * less). The dedup-specific reading: a high-scoring non-edge is a
      * near-dup pair the pairwise threshold MISSED but the neighborhood
      * structure implies — the candidates a second, cheaper verification
      * pass should rescore. Wedge centers are degree-capped (the
      * hot-node mitigation; no-op at test scale, load-bearing at
      * 100 TB), Jaccard denominators still count all edges. */
    QueryDef("q157_link_predict", (s, dir) =>
      Graph.commonNeighborPairs(
        Similarity.nearDupPairs(t(s, dir, "embeddings"), threshold = 0.25)
          .select(col("vec_a").as("a"), col("vec_b").as("b")),
        maxCenterDegree = 1024L),
      // every wedge from its center (degree-capped, no-op here), pair
      // counts + per-center AA/RA terms floored to ints BEFORE the sum
      // (add-order-independent), adjacency excluded, Jaccard floor-divided
      s"""WITH $nearDupEdgeCtes,
         sym AS (SELECT a AS c, b AS n FROM ed UNION ALL SELECT b, a FROM ed),
         deg AS (SELECT c, count(*) AS deg FROM sym GROUP BY c),
         w AS (SELECT e1.n AS x, e2.n AS y, d.deg
               FROM sym e1 JOIN sym e2 ON e1.c = e2.c AND e1.n < e2.n
               JOIN deg d ON d.c = e1.c
               WHERE d.deg <= 1024),
         cn AS (SELECT x, y, count(*) AS common,
                       CAST(sum(CAST(floor(1000000.0 / ln(deg)) AS BIGINT))
                            AS BIGINT) AS aa_micro,
                       CAST(sum(1000000 // deg) AS BIGINT) AS ra_ppm
                FROM w GROUP BY x, y),
         na AS (SELECT cn.* FROM cn WHERE NOT EXISTS
                (SELECT 1 FROM ed WHERE ed.a = cn.x AND ed.b = cn.y))
         SELECT na.x AS a, na.y AS b, CAST(na.common AS BIGINT) AS common,
                CAST((na.common * 10000) // (da.deg + db.deg - na.common)
                     AS BIGINT) AS jaccard_bp,
                na.aa_micro, na.ra_ppm
         FROM na JOIN deg da ON da.c = na.x JOIN deg db ON db.c = na.y"""),

    /** Deterministic random-walk corpus over the near-dup graph: 2 walks
      * per node, 3 steps each, every draw a salted-md5 pick over the
      * dst-sorted adjacency — the node2vec-style input a graph-embedding
      * trainer consumes, generated replayably (re-runs and the oracle
      * produce the byte-identical corpus; re-salting redraws). */
    QueryDef("q159_random_walks", (s, dir) =>
      Graph.randomWalks(
        Similarity.nearDupPairs(t(s, dir, "embeddings"), threshold = 0.25)
          .select(col("vec_a").as("a"), col("vec_b").as("b")),
        walksPerNode = 2, walkLength = 3),
      // the walk recurrence unrolled 3 steps: each step's pick is the
      // first 24 md5 bits (hex chars via the instr alphabet, q79's
      // pattern) mod the current node's degree, over dst-sorted adjacency
      s"""WITH $nearDupEdgeCtes,
         sym AS (SELECT a AS src, b AS dst FROM ed UNION ALL SELECT b, a FROM ed),
         degs AS (SELECT src, count(*) AS deg FROM sym GROUP BY src),
         adj AS (SELECT src, dst,
                        CAST(row_number() OVER (PARTITION BY src ORDER BY dst)
                             - 1 AS BIGINT) AS pick
                 FROM sym),
         w0 AS (SELECT d.src AS start, w.walk, d.src AS cur
                FROM degs d, (SELECT unnest(range(0, 2)) AS walk) w),
         h1 AS (SELECT f.start, f.walk, f.cur, d.deg,
                       md5('graft-walk:' || CAST(f.cur AS VARCHAR) || ':' ||
                           CAST(f.walk AS VARCHAR) || ':1') AS h
                FROM w0 f JOIN degs d ON d.src = f.cur),
         s1 AS (SELECT h1.start, h1.walk, a.dst AS cur
                FROM h1 JOIN adj a ON a.src = h1.cur AND a.pick =
                  ((((((instr('0123456789abcdef', substr(h, 1, 1)) - 1) * 16
                     + instr('0123456789abcdef', substr(h, 2, 1)) - 1) * 16
                     + instr('0123456789abcdef', substr(h, 3, 1)) - 1) * 16
                     + instr('0123456789abcdef', substr(h, 4, 1)) - 1) * 16
                     + instr('0123456789abcdef', substr(h, 5, 1)) - 1) * 16
                     + instr('0123456789abcdef', substr(h, 6, 1)) - 1) % h1.deg),
         h2 AS (SELECT f.start, f.walk, f.cur, d.deg,
                       md5('graft-walk:' || CAST(f.cur AS VARCHAR) || ':' ||
                           CAST(f.walk AS VARCHAR) || ':2') AS h
                FROM s1 f JOIN degs d ON d.src = f.cur),
         s2 AS (SELECT h2.start, h2.walk, a.dst AS cur
                FROM h2 JOIN adj a ON a.src = h2.cur AND a.pick =
                  ((((((instr('0123456789abcdef', substr(h, 1, 1)) - 1) * 16
                     + instr('0123456789abcdef', substr(h, 2, 1)) - 1) * 16
                     + instr('0123456789abcdef', substr(h, 3, 1)) - 1) * 16
                     + instr('0123456789abcdef', substr(h, 4, 1)) - 1) * 16
                     + instr('0123456789abcdef', substr(h, 5, 1)) - 1) * 16
                     + instr('0123456789abcdef', substr(h, 6, 1)) - 1) % h2.deg),
         h3 AS (SELECT f.start, f.walk, f.cur, d.deg,
                       md5('graft-walk:' || CAST(f.cur AS VARCHAR) || ':' ||
                           CAST(f.walk AS VARCHAR) || ':3') AS h
                FROM s2 f JOIN degs d ON d.src = f.cur),
         s3 AS (SELECT h3.start, h3.walk, a.dst AS cur
                FROM h3 JOIN adj a ON a.src = h3.cur AND a.pick =
                  ((((((instr('0123456789abcdef', substr(h, 1, 1)) - 1) * 16
                     + instr('0123456789abcdef', substr(h, 2, 1)) - 1) * 16
                     + instr('0123456789abcdef', substr(h, 3, 1)) - 1) * 16
                     + instr('0123456789abcdef', substr(h, 4, 1)) - 1) * 16
                     + instr('0123456789abcdef', substr(h, 5, 1)) - 1) * 16
                     + instr('0123456789abcdef', substr(h, 6, 1)) - 1) % h3.deg)
         SELECT start, CAST(walk AS BIGINT) AS walk,
                CAST(0 AS BIGINT) AS step, cur AS node FROM w0
         UNION ALL SELECT start, walk, 1, cur FROM s1
         UNION ALL SELECT start, walk, 2, cur FROM s2
         UNION ALL SELECT start, walk, 3, cur FROM s3"""),

    /** Personalized PageRank (3 unrolled iterations) over the
      * part→supplier bipartite graph, seeded at parts 1-5: teleport AND
      * dangling mass restart at the seeds only, so rank is proximity to
      * the seed set — the "expand a trusted corpus" curation primitive.
      * Every supplier node is dangling here, so the restart-at-seeds
      * path carries ~39% of total mass per round — the oracle replays
      * the exact integer recurrence. */
    QueryDef("q158_ppr_seeds", (s, dir) => {
      val li = t(s, dir, "lineitem")
      // long ids through the rounds, decoded at output (see q87)
      val edges = li
        .select(Graph.encodeLeft(col("l_partkey")).as("src"),
          Graph.encodeRight(col("l_suppkey")).as("dst"))
        .distinct()
      val seeds = li.filter(col("l_partkey") <= 5)
        .select(Graph.encodeLeft(col("l_partkey")).as("node"))
        .distinct()
      Graph.pageRankPersonalized(edges, seeds, maxIterations = 3)._1
        .select(Graph.decodeBipartite(col("node"), "p", "s").as("node"),
          col("rank").as("pr"))
    },
      // q152's integer recurrence with teleport AND dangling mass
      // restarting at the seed set only (seed share = floor-divided once
      // per round, exactly as the Spark side's driver-computed literals)
      s"""WITH $partSupplierNodeCtes,
         seeds AS (SELECT DISTINCT 'p' || CAST(l_partkey AS VARCHAR) AS node
                   FROM lineitem WHERE l_partkey <= 5),
         ns AS (SELECT count(*) AS s FROM seeds),
         deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
         r0 AS (SELECT n.node,
                       CASE WHEN sd.node IS NOT NULL
                            THEN (1000000 * nn.n) // ns.s ELSE 0 END AS pr
                FROM nodes n LEFT JOIN seeds sd ON sd.node = n.node, nn, ns),
         d1 AS (SELECT COALESCE(sum(pr), 0) AS dm FROM r0
                WHERE node NOT IN (SELECT src FROM deg)),
         it1 AS (SELECT n.node,
                        COALESCE(c.csum, 0) + CASE WHEN sd.node IS NOT NULL
                          THEN (150000 * nn.n) // ns.s
                             + (d1.dm * 85) // (100 * ns.s)
                          ELSE 0 END AS pr
                 FROM nodes n
                 LEFT JOIN seeds sd ON sd.node = n.node
                 LEFT JOIN (SELECT e.dst AS node,
                                   sum((r.pr * 85) // (100 * d.deg)) AS csum
                            FROM edges e JOIN r0 r ON r.node = e.src
                            JOIN deg d ON d.src = e.src
                            GROUP BY e.dst) c ON c.node = n.node,
                 d1, nn, ns),
         d2 AS (SELECT COALESCE(sum(pr), 0) AS dm FROM it1
                WHERE node NOT IN (SELECT src FROM deg)),
         it2 AS (SELECT n.node,
                        COALESCE(c.csum, 0) + CASE WHEN sd.node IS NOT NULL
                          THEN (150000 * nn.n) // ns.s
                             + (d2.dm * 85) // (100 * ns.s)
                          ELSE 0 END AS pr
                 FROM nodes n
                 LEFT JOIN seeds sd ON sd.node = n.node
                 LEFT JOIN (SELECT e.dst AS node,
                                   sum((r.pr * 85) // (100 * d.deg)) AS csum
                            FROM edges e JOIN it1 r ON r.node = e.src
                            JOIN deg d ON d.src = e.src
                            GROUP BY e.dst) c ON c.node = n.node,
                 d2, nn, ns),
         d3 AS (SELECT COALESCE(sum(pr), 0) AS dm FROM it2
                WHERE node NOT IN (SELECT src FROM deg)),
         it3 AS (SELECT n.node,
                        COALESCE(c.csum, 0) + CASE WHEN sd.node IS NOT NULL
                          THEN (150000 * nn.n) // ns.s
                             + (d3.dm * 85) // (100 * ns.s)
                          ELSE 0 END AS pr
                 FROM nodes n
                 LEFT JOIN seeds sd ON sd.node = n.node
                 LEFT JOIN (SELECT e.dst AS node,
                                   sum((r.pr * 85) // (100 * d.deg)) AS csum
                            FROM edges e JOIN it2 r ON r.node = e.src
                            JOIN deg d ON d.src = e.src
                            GROUP BY e.dst) c ON c.node = n.node,
                 d3, nn, ns)
         SELECT node, CAST(pr AS BIGINT) AS pr FROM it3"""),

    /** SemDeDup semantic dedup over embeddings: nearest-centroid
      * clusters (q53's assignment), then within-cluster cosine ≥ 0.3
      * pruned to the smallest-id keeper — the full curation decision,
      * not just the pair list (q28). See Similarity.semDedup. */
    QueryDef("q160_semdedup", (s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.semDedup(e, Similarity.centroids(e), threshold = 0.3)
    },
      semdedupOracle),

    /** DSIR hashed-unigram importance weights: target = English docs,
      * raw = everything else; per-doc e8-exact log-likelihood-ratio
      * score a resampler turns into keep probabilities. */
    QueryDef("q161_dsir_weights", (s, dir) =>
      Sampling.dsirWeights(t(s, dir, "documents"), col("lang") === "en"),
      """WITH b AS (SELECT doc_id, lang = 'en' AS tgt,
                           CAST(instr('0123456789abcdef', substr(md5(w), 32, 1)) - 1
                             AS BIGINT) AS bucket
                    FROM (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w
                          FROM documents)),
         cnt AS (SELECT bucket,
                        CAST(sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS BIGINT) AS ct,
                        CAST(sum(CASE WHEN tgt THEN 0 ELSE 1 END) AS BIGINT) AS cr
                 FROM b GROUP BY bucket),
         tot AS (SELECT CAST(sum(ct) AS BIGINT) AS tt,
                        CAST(sum(cr) AS BIGINT) AS tr FROM cnt),
         lr AS (SELECT bucket,
                       CAST(round(ln(((ct + 1) / CAST(tt + 16 AS DOUBLE)) /
                                     ((cr + 1) / CAST(tr + 16 AS DOUBLE))) * 1e8)
                         AS BIGINT) AS llr_e8
                FROM cnt, tot),
         d AS (SELECT doc_id, bucket, count(*) AS n FROM b GROUP BY 1, 2)
         SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_tokens,
                CAST(sum(n * llr_e8) AS BIGINT) AS llr_e8,
                round(CAST(sum(n * llr_e8) AS BIGINT)
                      / (CAST(sum(n) AS BIGINT) * 1e8), 4) + 0.0 AS avg_llr
         FROM d JOIN lr USING (bucket)
         GROUP BY doc_id"""),

    /** Token-budget greedy selection: the best-quality prefix (q21's
      * composite score, doc_id tiebreak) that fits 25% of the corpus's
      * tokens — banded two-level prefix scan, no global window. */
    QueryDef("q162_budget_select", (s, dir) =>
      Sampling.budgetSelect(
        TextOps.qualityFeatures(t(s, dir, "documents")),
        key = col("doc_id"), score = col("quality_score_bp"),
        tokens = col("n_words"), budgetPct = 25)
        .select(col("key").as("doc_id"), col("score"), col("n_tokens"),
          col("cum_tokens")),
      s"""WITH q AS (
           SELECT doc_id,
                  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
                  $qualityScoreBp AS score
           FROM documents),
         tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total FROM q),
         r AS (SELECT doc_id, score, n_tokens,
                      CAST(sum(n_tokens) OVER (ORDER BY score DESC, doc_id)
                        AS BIGINT) AS cum_tokens
               FROM q)
         SELECT doc_id, score, n_tokens, cum_tokens
         FROM r, tot
         WHERE cum_tokens <= (total * 25) // 100"""),

    /** The modern curation capstone: quality gate → exact-dedup keeper →
      * SemDeDup over the survivors' embeddings → token-budget selection
      * (q42's classic chain extended with the embedding-space stage and
      * the budget cut; q21 + q24 + q160 + q162 composed end-to-end).
      * Docs without an embedding can't be semantically deduped and pass
      * that stage untouched (a partial-coverage embedding store); the
      * budget is 30% of the SURVIVORS' tokens. */
    QueryDef("q163_curation_budget", (s, dir) => {
      val docs = t(s, dir, "documents")
      val scored = docs
        .join(TextOps.qualityFeatures(docs)
          .select(col("doc_id"), col("n_words"), col("quality_score_bp")),
          Seq("doc_id"))
        .filter(col("quality_score_bp") >= 4000)
      val keep = scored.groupBy(md5(col("text")).as("h"))
        .agg(min(col("doc_id")).as("doc_id")).select(col("doc_id"))
      // materialized once: exact feeds BOTH the embedding semi-join and
      // the post-SemDeDup anti-join — without the checkpoint each re-runs
      // the docs scan + quality features + dedup groupBy
      val exact = scored.join(keep, Seq("doc_id")).localCheckpoint()
      val survVecs = t(s, dir, "embeddings")
        .join(exact.select(col("doc_id").as("vec_id")), Seq("vec_id"))
      // the capstone is the PRODUCTION pipeline, so it runs the pair
      // join on the corpus-scale strategy (co-partitioned shuffle, one
      // cluster block per task) rather than the small-corpus broadcast
      // default — q160/q165 keep timing the two strategies head-to-head
      val dropped = Similarity
        .semDedup(survVecs, Similarity.centroids(survVecs), threshold = 0.3,
          broadcastBlocks = false)
        .filter(!col("kept")).select(col("vec_id").as("doc_id"))
      val afterSem = exact.join(dropped, Seq("doc_id"), "left_anti")
      Sampling.budgetSelect(afterSem, col("doc_id"), col("quality_score_bp"),
        col("n_words"), budgetPct = 30)
        .select(col("key").as("doc_id"), col("score"), col("n_tokens"),
          col("cum_tokens"))
    },
      s"""WITH q AS (
           SELECT doc_id, text,
                  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
                  $qualityScoreBp AS score
           FROM documents),
         surv AS (SELECT * FROM q WHERE score >= 4000),
         keep AS (SELECT min(doc_id) AS doc_id FROM surv GROUP BY md5(text)),
         ex AS (SELECT surv.doc_id, surv.n_tokens, surv.score
                FROM surv JOIN keep USING (doc_id)),
         e AS (SELECT label, vec_id, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings WHERE vec_id IN (SELECT doc_id FROM ex)),
         $centroidCte,
         $semdedupAssignCte,
         $semdedupDupCte,
         after AS (SELECT * FROM ex
                   WHERE doc_id NOT IN (SELECT vec_id FROM dup)),
         tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total FROM after),
         r AS (SELECT doc_id, score, n_tokens,
                      CAST(sum(n_tokens) OVER (ORDER BY score DESC, doc_id)
                        AS BIGINT) AS cum_tokens
               FROM after)
         SELECT doc_id, score, n_tokens, cum_tokens
         FROM r, tot
         WHERE cum_tokens <= (total * 30) // 100"""),

    /** Incremental SemDeDup: a new batch (vec_id ≡ 0 mod 10) deduped
      * against the KEPT survivors of a prior [[Similarity.semDedup]] pass
      * over the rest of the corpus — the online rule every continuous
      * ingest runs (q44's incremental-MinHash split, embedding edition).
      * The oracle pins the chain semantics: prior vectors that were
      * DROPPED are never probed, so a batch vector similar only to a
      * dropped prior vector is kept. See Similarity.semDedupAgainst. */
    QueryDef("q164_semdedup_incr", (s, dir) => {
      val e = t(s, dir, "embeddings")
      val cent = Similarity.centroids(e)
      val batch = e.filter(col("vec_id") % 10 === 0)
      val prior = e.filter(col("vec_id") % 10 =!= 0)
      val kept = prior
        .join(Similarity.semDedup(prior, cent, threshold = 0.3)
          .filter(col("kept")).select(col("vec_id"), col("cluster")),
          Seq("vec_id"))
        .select(col("cluster").as("label"), col("vec_id"), col("embedding"))
      Similarity.semDedupAgainst(batch, kept, cent, threshold = 0.3)
    },
      s"""WITH $embeddingCentroidCtes,
         $semdedupAssignCte,
         prior AS (SELECT * FROM a WHERE vec_id % 10 <> 0),
         pdup AS (SELECT DISTINCT y.vec_id
                  FROM prior x JOIN prior y
                    ON x.cluster = y.cluster AND x.vec_id < y.vec_id
                  WHERE round(list_cosine_similarity(x.v, y.v), 6) >= 0.3),
         kept AS (SELECT * FROM prior
                  WHERE vec_id NOT IN (SELECT vec_id FROM pdup)),
         batch AS (SELECT * FROM a WHERE vec_id % 10 = 0),
         dvk AS (SELECT DISTINCT b.vec_id
                 FROM kept k JOIN batch b ON k.cluster = b.cluster
                 WHERE round(list_cosine_similarity(k.v, b.v), 6) >= 0.3),
         dib AS (SELECT DISTINCT y.vec_id
                 FROM batch x JOIN batch y
                   ON x.cluster = y.cluster AND x.vec_id < y.vec_id
                 WHERE round(list_cosine_similarity(x.v, y.v), 6) >= 0.3),
         dup AS (SELECT vec_id FROM dvk UNION SELECT vec_id FROM dib)
         SELECT b.vec_id, b.cluster,
                b.vec_id NOT IN (SELECT vec_id FROM dup) AS kept
         FROM batch b"""),

    /** `q160_semdedup` on the cluster join strategy: broadcastBlocks =
      * false co-partitions both pair sides on `cluster` instead of
      * broadcasting the corpus — the plan a 100-TB corpus must run. Same
      * oracle as q160 (results are identical by construction; the
      * equivalence is also spec-asserted in SemDedupScaleSpec), kept as
      * its own entry so the driver bench times the shuffle path by
      * name. */
    QueryDef("q165_semdedup_shuffle", (s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.semDedup(e, Similarity.centroids(e), threshold = 0.3,
        broadcastBlocks = false)
    },
      semdedupOracle),

    /** Contrastive hard-negative mining: for a query sample, the 5 most
      * confusable corpus vectors inside the [0.1, 0.9) cosine band —
      * below the near-dup ceiling (no positive leaks into the negative
      * set), above the trivially-unrelated floor. See
      * Similarity.hardNegatives. */
    QueryDef("q167_hard_negatives", (s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.hardNegatives(e.filter(col("vec_id") % 50 === 0), e,
        k = 5, minSim = 0.1, maxSim = 0.9)
    },
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id % 50 = 0),
         s AS (SELECT q_id, vec_id,
                      round(list_cosine_similarity(qv, v), 6) AS sim
               FROM q, e
               WHERE q_id <> vec_id)
         SELECT q_id, vec_id, sim, rank FROM (
           SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
                     ORDER BY sim DESC, vec_id) AS rank
           FROM s WHERE sim >= 0.1 AND sim < 0.9)
         WHERE rank <= 5"""),

    /** Cluster-balanced subsample: at most 20 vectors per semantic
      * cluster (q53's nearest-centroid assignment), drawn by the q68
      * deterministic salted-md5 rank — the diversity-quota step that
      * stops one dense mode from dominating a curated corpus. */
    QueryDef("q169_cluster_balance", (s, dir) => {
      val e = t(s, dir, "embeddings")
      Sampling.groupCap(
        Similarity.assignClusters(e, Similarity.centroids(e))
          .select(col("vec_id"), col("cluster")),
        Seq("cluster"), col("vec_id"), maxPerGroup = 20)
    },
      s"""WITH $embeddingCentroidCtes,
         a AS (SELECT vec_id, cluster FROM (
                 SELECT e.vec_id, c.label AS cluster,
                        ROW_NUMBER() OVER (PARTITION BY e.vec_id
                          ORDER BY round(list_cosine_similarity(e.v, c.centroid), 6) DESC,
                                   c.label) AS rn
                 FROM e, cent c)
               WHERE rn = 1)
         SELECT vec_id, cluster, rk AS grp_rank FROM (
           SELECT vec_id, cluster,
                  CAST(ROW_NUMBER() OVER (PARTITION BY cluster
                       ORDER BY md5('graft-cap:' || CAST(vec_id AS VARCHAR)), vec_id)
                       AS BIGINT) AS rk
           FROM a)
         WHERE rk <= 20"""),

    /** Temperature-scaled source mixture (α = 0.3): per-source sampling
      * weights n_tokens^α / Σ n^α — the standard up-sample-the-tail
      * mixing rule for multi-source training corpora. See
      * Sampling.temperatureWeights. */
    QueryDef("q170_temp_mixture", (s, dir) =>
      Sampling.temperatureWeights(t(s, dir, "documents"), "source",
        TextOps.wordCount(col("text")), alpha = 0.3),
      """WITH s AS (SELECT source,
                           CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
                    FROM documents GROUP BY source),
         p AS (SELECT source, n_tokens,
                      CAST(round(pow(CAST(n_tokens AS DOUBLE), 0.3) * 1e8) AS BIGINT) AS p_e8
               FROM s),
         t AS (SELECT CAST(sum(p_e8) AS BIGINT) AS tp FROM p)
         SELECT source, n_tokens,
                round(CAST(p_e8 AS DOUBLE) / CAST(tp AS DOUBLE), 6) AS weight
         FROM p, t"""),

    /** Embedding-space decontamination: every train vector (vec_id ≢ 0
      * mod 25) scored by its worst cosine against the held-out
      * test/benchmark sample (vec_id ≡ 0 mod 25) — the semantic twin of
      * q43/q85's exact n-gram decontamination, catching paraphrases that
      * share no shingle. See Similarity.semanticDecontaminate. */
    QueryDef("q168_semantic_decontam", (s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.semanticDecontaminate(
        e.filter(col("vec_id") % 25 =!= 0),
        e.filter(col("vec_id") % 25 === 0),
        threshold = 0.3)
    },
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         tr AS (SELECT * FROM e WHERE vec_id % 25 <> 0),
         te AS (SELECT * FROM e WHERE vec_id % 25 = 0),
         p AS (SELECT tr.vec_id,
                      round(list_cosine_similarity(tr.v, te.v), 6) AS sim
               FROM tr, te)
         SELECT vec_id, max(sim) AS max_sim,
                CAST(sum(CASE WHEN sim >= 0.3 THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
                CAST(sum(CASE WHEN sim >= 0.3 THEN 1 ELSE 0 END) AS BIGINT) > 0 AS contaminated
         FROM p GROUP BY vec_id"""),

    /** Learned semantic clusters: deterministic Lloyd k-means (k = 4,
      * 2 E-steps) with farthest-point seeding from the smallest vec_id —
      * the clustering q53/q160/q169 consume as a GIVEN label column,
      * now produced by the engine itself (the SemDeDup paper's own
      * pipeline order: k-means, then within-cluster dedup). The oracle
      * replays the full loop — seeding scans, E/M rounds, final
      * assignment — so the centroid math is pinned, not just counts.
      * See Clustering.kmeans. */
    QueryDef("q171_kmeans", (s, dir) =>
      Clustering.kmeans(t(s, dir, "embeddings"), k = 4, iters = 2),
      // full Lloyd loop replay: farthest-point seeding (3 scans), E-step
      // under the rounded seeds, 6-dp-rounded M-step means, final E-step;
      // + 0.0 folds −0.0 rounded cosines before they become ordering keys
      s"""WITH $kmeansCentroidCtes
         SELECT vec_id, cluster, csim FROM (
           SELECT e.vec_id, c1.cluster,
                  round(list_cosine_similarity(e.v, c1.c), 6) + 0.0 AS csim,
                  ROW_NUMBER() OVER (PARTITION BY e.vec_id
                    ORDER BY round(list_cosine_similarity(e.v, c1.c), 6) + 0.0 DESC,
                             c1.cluster) AS rn
           FROM e, cent1 c1)
         WHERE rn = 1"""),

    /** JL random-projection recall audit: brute-force cosine top-10 in
      * the 16-component Rademacher sketch space (4× less arithmetic and
      * bandwidth per comparison) scored against full-space top-10 —
      * recall@10 per query in basis points, the accuracy contract of the
      * project → shortlist → re-rank ANN pattern (q153's audit shape,
      * projection edition). See Projection.rpProject. */
    QueryDef("q172_rp_recall", (s, dir) =>
      recallAt10(s, dir) { (_, e) =>
        val ep = Projection.projectCorpus(e, outDim = 16)
        Similarity.bruteForceTopK(ep.filter(col("vec_id") < 20), ep, k = 10)
      },
      // the JL sketch replayed sign-for-sign (md5 'rp:m:j' family),
      // then q153's recall-audit shape over projected-space vs
      // full-space brute-force top-10
      s"""WITH $rpSketchCtes,
         $exactTop10Ctes,
         qp AS (SELECT vec_id AS q_id, pv AS qpv FROM p WHERE vec_id < 20),
         pr AS (SELECT q_id, vec_id FROM (
                  $rpNeighbourRanks
                WHERE rank <= 10)
         ${recallSelect("pr")}"""),

    /** PQ/ADC recall audit: asymmetric-distance top-10 over 4×4-bit
      * product-quantization codes (exact query vs codebook-compressed
      * corpus — 2 bytes per vector instead of 256) scored against
      * full-space top-10. The compressed-domain third rung of the ANN
      * accuracy ladder next to IVF (q153) and the JL sketch (q172).
      * See Projection.pqAdcTopK. */
    QueryDef("q173_pq_recall", (s, dir) =>
      recallAt10(s, dir)((q, e) => Projection.pqAdcTopK(q, e, k = 10)),
      // PQ replay: unit-normalize, 4 subspaces x 4 sign planes (md5
      // 'pq:sub:h:j', j relative to the subspace), codebook means rounded
      // 6 dp, ADC = sum of subspace dots vs the exact query — then the
      // q153 recall-audit shape vs full-space brute force
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         u AS (SELECT vec_id,
                      list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS vn,
                      v
               FROM e),
         $pqCodebookCtes,
         adc AS (SELECT qsub.q_id, codes.vec_id,
                        round(sum(list_dot_product(qsub.qv, cb.cbv)), 6) + 0.0 AS sim
                 FROM codes
                 JOIN cb ON cb.sub = codes.sub AND cb.code = codes.code
                 JOIN qsub ON qsub.sub = codes.sub
                 GROUP BY qsub.q_id, codes.vec_id),
         tk AS (SELECT q_id, vec_id FROM (
                  SELECT q_id, vec_id,
                         ROW_NUMBER() OVER (PARTITION BY q_id
                           ORDER BY sim DESC, vec_id) AS rank
                  FROM adc)
                WHERE rank <= 10),
         $exactTop10Ctes
         ${recallSelect("tk")}"""),

    /** Two-stage ANN: JL-sketch shortlist (50 per query) → exact
      * full-space re-rank to top-10 — the production composition of
      * q172's sketch (cheap corpus-wide pass) and q29's exactness
      * (expensive pass bounded to the shortlist). The oracle pins the
      * actual re-ranked rows — ids, sims, ranks — not a recall summary.
      * See Projection.rpRerankTopK. */
    QueryDef("q174_rp_rerank", (s, dir) => {
      val e = t(s, dir, "embeddings")
      Projection.rpRerankTopK(e.filter(col("vec_id") < 20), e,
        k = 10, shortlist = 50)
    },
      // q172's sketch CTEs, then: shortlist = projected-space top-50,
      // re-rank = exact cosine over ONLY the shortlist pairs, top-10 —
      // the oracle pins ids, sims, AND ranks of the final result
      s"""WITH $rpSketchCtes,
         qp AS (SELECT vec_id AS q_id, pv AS qpv FROM p WHERE vec_id < 20),
         sl AS (SELECT q_id, vec_id FROM (
                  $rpNeighbourRanks
                WHERE rank <= 50),
         qf AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 20)
         SELECT q_id, vec_id, sim, rank FROM (
           SELECT sl.q_id, sl.vec_id,
                  round(list_cosine_similarity(qf.qv, e.v), 6) AS sim,
                  ROW_NUMBER() OVER (PARTITION BY sl.q_id
                    ORDER BY round(list_cosine_similarity(qf.qv, e.v), 6) DESC,
                             sl.vec_id) AS rank
           FROM sl
           JOIN e ON e.vec_id = sl.vec_id
           JOIN qf ON qf.q_id = sl.q_id)
         WHERE rank <= 10"""),

    /** k-means quality contract: per-cluster member count, exact
      * micro-unit cosine sum, and worst member under q171's learned
      * centroids — the coherence readout k/iters tune against (q153's
      * accuracy-contract idea, clustering edition). See
      * Clustering.clusterQuality. */
    QueryDef("q175_kmeans_quality", (s, dir) =>
      Clustering.clusterQuality(
        Clustering.kmeans(t(s, dir, "embeddings"), k = 4, iters = 2)),
      // q171's full Lloyd replay, folded to the per-cluster contract:
      // exact integer micro-unit cosine sums, no float means
      s"""WITH $kmeansCentroidCtes,
         a2 AS (SELECT vec_id, cluster, csim FROM (
                  SELECT e.vec_id, c1.cluster,
                         round(list_cosine_similarity(e.v, c1.c), 6) + 0.0 AS csim,
                         ROW_NUMBER() OVER (PARTITION BY e.vec_id
                           ORDER BY round(list_cosine_similarity(e.v, c1.c), 6) + 0.0
                                      DESC,
                                    c1.cluster) AS rn
                  FROM e, cent1 c1)
                WHERE rn = 1)
         SELECT cluster, CAST(count(*) AS BIGINT) AS n_vecs,
                CAST(sum(CAST(round(csim * 1000000) AS BIGINT)) AS BIGINT)
                  AS sum_csim_e6,
                min(csim) AS min_csim
         FROM a2 GROUP BY cluster"""),

    /** SemDeDup end-to-end as the paper runs it: k-means FIRST
      * (q171's learned centroids — no given label column anywhere), then
      * the within-cluster cosine prune. q160 consumes the testdata's
      * pre-assigned labels; this is the same decision with the
      * clustering learned in-engine, so a corpus with no clustering
      * metadata at all can be semantically deduped. */
    QueryDef("q176_semdedup_learned", (s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.semDedup(e,
        Clustering.kmeansCentroids(e, k = 4, iters = 2)
          .withColumnRenamed("cluster", "label"),
        threshold = 0.3)
    },
      // q171's learned-centroid chain (seeding, E, M) feeding q160's
      // within-cluster smaller-id prune — SemDeDup with zero given labels
      s"""WITH $kmeansCentroidCtes,
         a AS (SELECT vec_id, cluster, v FROM (
                 SELECT e.vec_id, c1.cluster, e.v,
                        ROW_NUMBER() OVER (PARTITION BY e.vec_id
                          ORDER BY round(list_cosine_similarity(e.v, c1.c), 6) DESC,
                                   c1.cluster) AS rn
                 FROM e, cent1 c1)
               WHERE rn = 1),
         $semdedupKeptSelect"""),

    /** Model-free semantic neighbors over RAW TEXT: every 25th document's
      * nearest same-language neighbor by cosine over hashed bag-of-words
      * vectors (TextOps.hashEmbed, 64 md5 buckets) — the documents table
      * entering the vector-operator world with no embedding model in the
      * loop. The sampled query side broadcasts into one corpus scan
      * (q168's sampling shape); at corpus scale the pair term blocks by
      * LSH bucket instead of language, unchanged. */
    QueryDef("q177_hash_embed_nn", (s, dir) => {
      val docs = t(s, dir, "documents")
      val d = TextOps.hashEmbed(docs)
        .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
      val q = d.filter(col("doc_id") % 25 === 0)
        .select(col("lang"), col("doc_id"), col("embedding").as("qv"))
      val c = d.select(col("lang"), col("doc_id").as("nn_id"),
        col("embedding").as("cv"))
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(col("sim").desc, col("nn_id"))
      c.join(broadcast(q), Seq("lang"))
        .filter(col("nn_id") =!= col("doc_id"))
        .select(col("doc_id"), col("nn_id"),
          round(Similarity.cosine(col("cv"), col("qv")), 6).as("sim"))
        .withColumn("graft_rn", row_number().over(w))
        .filter(col("graft_rn") === 1)
        .drop("graft_rn")
    },
      // hashed bag-of-words replayed bucket-for-bucket (the q161 md5-tail
      // convention, two hex chars // 4 -> 64 buckets), then the sampled
      // within-language nearest-neighbor argmax
      """WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
                    FROM documents),
         b AS (SELECT doc_id,
                      CAST(((instr('0123456789abcdef', substr(md5(w), 31, 1)) - 1)
                             * 16 +
                            instr('0123456789abcdef', substr(md5(w), 32, 1)) - 1)
                           // 4 AS BIGINT) AS bucket
               FROM w),
         c AS (SELECT doc_id, bucket, count(*) AS n FROM b GROUP BY 1, 2),
         v AS (SELECT doc_id, list(cnt ORDER BY i) AS v FROM (
                 SELECT c.doc_id, i.i,
                        CAST(coalesce(sum(CASE WHEN c.bucket = i.i THEN c.n END), 0)
                             AS DOUBLE) AS cnt
                 FROM c, (SELECT unnest(range(0, 64)) AS i) i
                 GROUP BY c.doc_id, i.i)
               GROUP BY doc_id),
         d AS (SELECT v.doc_id, documents.lang, v.v
               FROM v JOIN documents USING (doc_id)),
         q AS (SELECT * FROM d WHERE doc_id % 25 = 0)
         SELECT doc_id, nn_id, sim FROM (
           SELECT q.doc_id, d.doc_id AS nn_id,
                  round(list_cosine_similarity(q.v, d.v), 6) AS sim,
                  ROW_NUMBER() OVER (PARTITION BY q.doc_id
                    ORDER BY round(list_cosine_similarity(q.v, d.v), 6) DESC,
                             d.doc_id) AS rn
           FROM q JOIN d ON d.lang = q.lang AND d.doc_id <> q.doc_id)
         WHERE rn = 1"""),

    /** C4-style line-level dedup: sentence units occurring in ≥2 distinct
      * documents are corpus boilerplate, removed from every doc; the
      * cleaned text is pinned by md5 in original order. The line-granular
      * complement of q24 (doc-level exact) and q52/q154 (gram-level
      * readouts) — those MEASURE duplication, this one performs the cut.
      * See TextOps.lineDedup. */
    QueryDef("q178_line_dedup", (s, dir) =>
      TextOps.lineDedup(t(s, dir, "documents"), minDf = 2),
      // position-aware line explode (the q130 struct_pack pattern),
      // distinct-doc line frequency, kept-line re-assembly in order;
      // empty survivor sets hash '' (coalesce matches Spark's concat_ws)
      """WITH l AS (SELECT doc_id, u.pos AS pos, u.line AS line FROM (
                 SELECT doc_id,
                        unnest(list_transform(range(0, len(s)),
                               i -> struct_pack(pos := i, line := s[i + 1]))) AS u
                 FROM (SELECT doc_id, string_split(text, '. ') AS s
                       FROM documents))),
         d AS (SELECT line FROM (
                 SELECT line, count(*) AS df
                 FROM (SELECT DISTINCT doc_id, line FROM l)
                 GROUP BY line)
               WHERE df >= 2)
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lines,
                CAST(sum(CASE WHEN d.line IS NOT NULL THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_dropped,
                md5(coalesce(
                  string_agg(l.line, '. ' ORDER BY l.pos)
                    FILTER (WHERE d.line IS NULL), '')) AS clean_hash
         FROM l LEFT JOIN d ON l.line = d.line
         GROUP BY doc_id"""),

    /** BPE tokenizer LEARNING: the 6-round merge table over the corpus
      * vocabulary — (rank, lhs, rhs, pair_count). The corpus is scanned
      * exactly once (word-freq aggregate); every round after runs on the
      * vocab-sized frame with one driver-held argmax row. See
      * [[graft.operators.Bpe]]. */
    QueryDef("q179_bpe_merges", (s, dir) => {
      val (merges, _) = Bpe.learn(Bpe.wordFreq(t(s, dir, "documents")), nMerges = 6)
      Bpe.mergesDf(s, merges)
    },
      (bpeOracleCtes(6) + "\n " +
      (1 to 6).map(i =>
        s"SELECT CAST($i AS BIGINT) AS rank, lhs, rhs, cnt AS pair_count FROM m$i")
        .mkString("SELECT * FROM (", " UNION ALL ", ")"))),

    /** BPE application under the q179 merges: per-document word / char /
      * BPE-token counts via the encoded-vocabulary join (the fold runs
      * once per DISTINCT word, never per occurrence) — the real
      * "token-count your corpus with the tokenizer you just trained"
      * stage a token-budget cut (q162) consumes. */
    QueryDef("q180_bpe_encode", (s, dir) => {
      val docs = t(s, dir, "documents")
      val (_, vocab) = Bpe.learn(Bpe.wordFreq(docs), nMerges = 6)
      Bpe.encodeStats(docs, vocab)
    },
      (bpeOracleCtes(6) +
      """
        | SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_words,
        |        CAST(sum(length(t.w)) AS BIGINT) AS n_chars,
        |        CAST(sum(len(v.syms)) AS BIGINT) AS n_bpe_tokens,
        |        CAST(sum(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |          AS n_oov_words
        | FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
        |       FROM documents) t
        | LEFT JOIN w6 v ON t.w = v.w WHERE t.w <> ''
        | GROUP BY t.doc_id""".stripMargin)),

    /** SOFT dedup: instead of dropping exact duplicates (q24), weight
      * every copy by 1/n_copies so each distinct content contributes one
      * unit of sampling mass — the repetition-aware reweighting that
      * keeps natural duplication signal while un-biasing the mixture.
      * Output per doc: copy count, weight in basis points, and the doc's
      * weighted token mass (floor basis-point arithmetic, integer-exact
      * across engines). One hash-groupBy + one broadcast-eligible join
      * back on the hash — same shuffle shape as exact dedup. */
    QueryDef("q181_soft_dedup", (s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), md5(col("text")).as("h"),
          TextOps.wordCount(col("text")).as("n_tokens"))
      val copies = docs.groupBy(col("h")).agg(count(lit(1)).as("n_copies"))
      docs.join(copies, Seq("h"))
        .select(col("doc_id"), col("n_copies"),
          expr("10000 div n_copies").as("weight_bp"),
          expr("(n_tokens * (10000 div n_copies))").as("token_mass_bp"))
    },
      """WITH d AS (SELECT doc_id, md5(text) AS h,
                  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
           FROM documents),
         c AS (SELECT h, CAST(count(*) AS BIGINT) AS n_copies FROM d GROUP BY h)
         SELECT d.doc_id, c.n_copies,
                10000 // c.n_copies AS weight_bp,
                d.n_tokens * (10000 // c.n_copies) AS token_mass_bp
         FROM d JOIN c USING (h)"""),

    /** Token-budget selection measured in LEARNED-tokenizer tokens: q162's
      * quality-ranked greedy cut, but the cost of each document is its
      * q180 BPE token count, not its whitespace word count — budgets are
      * spent in the tokens the model actually trains on. Composes the
      * whole tokenizer block: learn (vocab-frame rounds) → encode
      * (memoized join) → banded budget scan. */
    QueryDef("q182_bpe_budget", (s, dir) => {
      val docs = t(s, dir, "documents")
      val (_, vocab) = Bpe.learn(Bpe.wordFreq(docs), nMerges = 6)
      val enc = Bpe.encodeStats(docs, vocab)
      val scored = TextOps.qualityFeatures(docs)
        .select(col("doc_id"), col("quality_score_bp"))
      Sampling.budgetSelect(enc.join(scored, Seq("doc_id")),
        key = col("doc_id"), score = col("quality_score_bp"),
        tokens = col("n_bpe_tokens"), budgetPct = 25)
        .select(col("key").as("doc_id"), col("score"), col("n_tokens"),
          col("cum_tokens"))
    },
      (bpeOracleCtes(6) +
      """,
        | enc AS (SELECT t.doc_id, CAST(sum(len(v.syms)) AS BIGINT) AS n_tokens
        |         FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
        |               FROM documents) t
        |         JOIN w6 v ON t.w = v.w WHERE t.w <> '' GROUP BY t.doc_id),
        | q AS (SELECT doc_id,
        |         CAST(floor((least(CAST(len(string_split(text, ' ')) AS DOUBLE) / 100, 1.0) * 0.5
        |               + least(CAST(len(regexp_extract_all(text, '\b(the|a|of|and|is|to|in)\b')) AS DOUBLE)
        |                       / len(string_split(text, ' ')) * 10, 1.0) * 0.3
        |               + (1.0 - least(CAST(len(regexp_extract_all(text, '([.,!?;:''"()\[\]{}-])', 1)) AS DOUBLE)
        |                              / length(text) * 20, 1.0)) * 0.2) * 10000) AS BIGINT) AS score
        |       FROM documents),
        | j AS (SELECT q.doc_id, q.score, enc.n_tokens
        |       FROM q JOIN enc ON q.doc_id = enc.doc_id),
        | tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total FROM j),
        | r AS (SELECT doc_id, score, n_tokens,
        |              CAST(sum(n_tokens) OVER (ORDER BY score DESC, doc_id)
        |                AS BIGINT) AS cum_tokens FROM j)
        | SELECT doc_id, score, n_tokens, cum_tokens
        | FROM r, tot WHERE cum_tokens <= (total * 25) // 100""".stripMargin)),

    /** Tokenizer fertility per language under the LEARNED merges:
      * BPE tokens per 100 words (floor bp) by lang — q144's fairness
      * readout, re-costed in the tokenizer the corpus actually trained
      * (languages the merges under-serve pay more tokens per word, i.e.
      * more context budget for the same text). Vocab-join encode, one
      * lang-keyed aggregate. */
    QueryDef("q183_bpe_fertility", (s, dir) => {
      val docs = t(s, dir, "documents")
      val (_, vocab) = Bpe.learn(Bpe.wordFreq(docs), nMerges = 6)
      Bpe.encodeStats(docs, vocab)
        .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_words")).as("n_words"),
          sum(col("n_bpe_tokens")).as("n_bpe_tokens"))
        .withColumn("fertility_bp",
          expr("(n_bpe_tokens * 10000) div n_words"))
    },
      (bpeOracleCtes(6) +
      """,
        | enc AS (SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_words,
        |         CAST(sum(len(v.syms)) AS BIGINT) AS n_bpe_tokens
        |         FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
        |               FROM documents) t
        |         JOIN w6 v ON t.w = v.w WHERE t.w <> '' GROUP BY t.doc_id)
        | SELECT d.lang, CAST(count(*) AS BIGINT) AS n_docs,
        |        CAST(sum(enc.n_words) AS BIGINT) AS n_words,
        |        CAST(sum(enc.n_bpe_tokens) AS BIGINT) AS n_bpe_tokens,
        |        (CAST(sum(enc.n_bpe_tokens) AS BIGINT) * 10000)
        |          // CAST(sum(enc.n_words) AS BIGINT) AS fertility_bp
        | FROM documents d JOIN enc ON d.doc_id = enc.doc_id
        | GROUP BY d.lang""".stripMargin)),

    /** BATCHED BPE learning: up to 3 merges per round for 3 rounds — the
      * round-compression that turns [[graft.operators.Bpe.learn]]'s
      * V sequential rounds into ~V/B (q179's recurrence is data-scale
      * right but ROUND-scale bound: a 32k-merge vocabulary is 32k
      * sequential driver round-trips; batching is the fix). The oracle
      * replays the full batched recurrence — ranked pool, rank-prefix
      * conflict disqualification, per-round chained folds — not just the
      * table shape. The round-count law was measured at nMerges ≥ 64 in
      * r8 (ec21277; README "BPE learning at vocabulary depth"). */
    QueryDef("q184_bpe_batched", (s, dir) => {
      val (merges, _) = Bpe.learnBatched(Bpe.wordFreq(t(s, dir, "documents")),
        nRounds = 3, batchSize = 3)
      Bpe.mergesDf(s, merges)
    },
      bpeBatchedOracle(nRounds = 3, batch = 3, pool = 12)),

    /** IVF+PQ recall contract: the composed persisted-index shape (IVF
      * routing → compressed-domain ADC shortlist inside the probed
      * cluster only → exact full-space re-rank; see
      * Projection.ivfPqTopK / writeIvfPqIndex) audited against
      * brute-force exact top-10, per query, in basis points — q153's
      * readout at EQUAL probe cost (nprobe=1), so the two recall columns
      * are directly comparable and IvfPqSpec asserts ivfpq ≥ ivf. The
      * oracle replays the whole composition: centroid routing (q30's
      * CTEs), PQ cells + codebook + ADC (q173's), shortlist-then-re-rank
      * (q174's) — restricted to the probed clusters. */
    QueryDef("q185_ivfpq_recall", (s, dir) =>
      recallAt10(s, dir)((q, e) => Projection.ivfPqTopK(q, e, Similarity.centroids(e),
        k = 10, nprobe = 1, shortlist = 50)),
      // q30's routing + q173's PQ/ADC + q174's shortlist-re-rank,
      // composed and restricted to each query's probed cluster
      s"""WITH e AS (SELECT label, vec_id, CAST(embedding AS DOUBLE[]) AS v
                    FROM embeddings),
         u AS (SELECT vec_id,
                      list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS vn
               FROM e),
         $centroidCte,
         qfull AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 20),
         probes AS (
           SELECT q_id, label AS probe_label FROM (
             SELECT q.q_id, c.label,
                    ROW_NUMBER() OVER (PARTITION BY q.q_id
                      ORDER BY round(list_cosine_similarity(q.qv, c.centroid), 6) DESC,
                               c.label) AS prn
             FROM qfull q, cent c)
           WHERE prn = 1),
         $pqCodebookCtes,
         adc AS (SELECT qsub.q_id, e2.vec_id,
                        round(sum(list_dot_product(qsub.qv, cb.cbv)), 6) + 0.0 AS sim
                 FROM probes p
                 JOIN e e2 ON e2.label = p.probe_label
                 JOIN codes ON codes.vec_id = e2.vec_id
                 JOIN cb ON cb.sub = codes.sub AND cb.code = codes.code
                 JOIN qsub ON qsub.q_id = p.q_id AND qsub.sub = codes.sub
                 GROUP BY qsub.q_id, e2.vec_id),
         sl AS (SELECT q_id, vec_id FROM (
                  SELECT q_id, vec_id,
                         ROW_NUMBER() OVER (PARTITION BY q_id
                           ORDER BY sim DESC, vec_id) AS srank
                  FROM adc)
                WHERE srank <= 50),
         rr AS (SELECT q_id, vec_id FROM (
                  SELECT sl.q_id, sl.vec_id,
                         ROW_NUMBER() OVER (PARTITION BY sl.q_id
                           ORDER BY round(list_cosine_similarity(qf.qv, e.v), 6)
                                      DESC,
                                    sl.vec_id) AS rank
                  FROM sl
                  JOIN e ON e.vec_id = sl.vec_id
                  JOIN qfull qf ON qf.q_id = sl.q_id)
                WHERE rank <= 10),
         b AS (SELECT q_id, vec_id FROM (
                 SELECT qf.q_id, e.vec_id,
                        ROW_NUMBER() OVER (PARTITION BY qf.q_id
                          ORDER BY round(list_cosine_similarity(qf.qv, e.v), 6) DESC,
                                   e.vec_id) AS rank
                 FROM qfull qf, e)
               WHERE rank <= 10)
         ${recallSelect("rr")}"""),

    /** Exact GLOBAL rank of every document by quality (score desc,
      * doc_id tiebreak) — the corpus-wide leaderboard every curation
      * report wants, via [[graft.operators.Ranks.withGlobalRank]]'s
      * banded decomposition instead of the single-partition
      * `row_number() OVER (ORDER BY …)` the oracle runs: bit-identical
      * ranks, every task bounded (q105's machinery exposed as the
      * first-class operator). */
    QueryDef("q186_global_rank", (s, dir) =>
      Ranks.withGlobalRank(
        TextOps.qualityFeatures(t(s, dir, "documents"))
          .select(col("doc_id"), col("quality_score_bp")),
        key = col("quality_score_bp"), ascending = false,
        tie = col("doc_id"), outCol = "rank")
        .select(col("doc_id"), col("quality_score_bp"), col("rank")),
      """WITH q AS (SELECT doc_id,
                CAST(floor((least(CAST(len(string_split(text, ' ')) AS DOUBLE) / 100, 1.0) * 0.5
                      + least(CAST(len(regexp_extract_all(text, '\b(the|a|of|and|is|to|in)\b')) AS DOUBLE)
                              / len(string_split(text, ' ')) * 10, 1.0) * 0.3
                      + (1.0 - least(CAST(len(regexp_extract_all(text, '([.,!?;:''"()\[\]{}-])', 1)) AS DOUBLE)
                                     / length(text) * 20, 1.0)) * 0.2) * 10000) AS BIGINT) AS quality_score_bp
              FROM documents)
         SELECT doc_id, quality_score_bp,
                CAST(ROW_NUMBER() OVER (ORDER BY quality_score_bp DESC, doc_id)
                     AS BIGINT) AS rank
         FROM q"""),

    /** The ACTUAL per-document BPE token sequence under the learned
      * 6-merge vocabulary — what q180 counts, materialized (the shard
      * a training pipeline writes). Space-joined for the driver compare;
      * see Bpe.encodeTokens for the memoized reassembly shape. */
    QueryDef("q187_bpe_tokens", (s, dir) => {
      val docs = t(s, dir, "documents")
      val (_, vocab) = Bpe.learn(Bpe.wordFreq(docs), nMerges = 6)
      Bpe.encodeTokens(docs, vocab)
        .select(col("doc_id"),
          size(col("tokens")).cast("bigint").as("n_tokens"),
          array_join(col("tokens"), " ").as("tokens"))
    },
      (bpeOracleCtes(6) +
      """,
        | tw AS (SELECT doc_id, t.pos AS pos, t.w AS w FROM (
        |     SELECT doc_id, unnest(list_transform(range(1, len(s) + 1),
        |            i -> struct_pack(pos := i, w := s[i]))) AS t
        |     FROM (SELECT doc_id, string_split(text, ' ') AS s FROM documents)))
        | SELECT tw.doc_id,
        |        CAST(sum(len(coalesce(v.syms, string_split(tw.w, ''))))
        |             AS BIGINT) AS n_tokens,
        |        string_agg(array_to_string(coalesce(v.syms,
        |                     string_split(tw.w, '')), ' '), ' '
        |                   ORDER BY tw.pos) AS tokens
        | FROM tw LEFT JOIN w6 v ON v.w = tw.w
        | WHERE tw.w <> ''
        | GROUP BY tw.doc_id""".stripMargin)),

    /** Exact duplicated-span CUT: every non-first occurrence of a
      * duplicated word 8-gram loses its covered words (first occurrence
      * by global (doc_id, pos) order survives) — the span-level dedup
      * member q154 only MEASURES (its dup_bp readout) and q24/q178
      * bracket from doc/line level. See TextOps.spanDedup; the oracle
      * pins the exact surviving text per document. */
    QueryDef("q188_span_cut", (s, dir) =>
      TextOps.spanDedup(t(s, dir, "documents"), l = 8),
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS s FROM documents),
         occ AS (SELECT doc_id, t.pos AS pos, t.g AS g FROM (
             SELECT doc_id, unnest(list_transform(range(1, len(s) - 6), i ->
                 struct_pack(pos := i - 1,
                             g := array_to_string(s[i:i+7], ' ')))) AS t
             FROM w WHERE len(s) >= 8)),
         nf AS (SELECT doc_id, pos FROM (
             SELECT doc_id, pos,
                    ROW_NUMBER() OVER (PARTITION BY g ORDER BY doc_id, pos)
                      AS rn
             FROM occ) WHERE rn > 1),
         cov AS (SELECT DISTINCT doc_id, pos + i AS wpos
                 FROM nf, (SELECT unnest(range(0, 8)) AS i)),
         wd AS (SELECT doc_id, t.wpos AS wpos, t.w AS w FROM (
             SELECT doc_id, unnest(list_transform(range(1, len(s) + 1), i ->
                 struct_pack(wpos := i - 1, w := s[i]))) AS t FROM w))
         SELECT wd.doc_id,
                CAST(count(*) AS BIGINT) AS n_words,
                CAST(sum(CASE WHEN cov.wpos IS NULL THEN 0 ELSE 1 END)
                     AS BIGINT) AS n_cut,
                coalesce(string_agg(CASE WHEN cov.wpos IS NULL THEN wd.w END,
                                    ' ' ORDER BY wd.wpos), '') AS clean_text
         FROM wd LEFT JOIN cov ON cov.doc_id = wd.doc_id
                               AND cov.wpos = wd.wpos
         GROUP BY wd.doc_id"""),

    /** Learned quality filter: logistic regression trained (z-scored
      * features, 5 full-batch steps, lr 2, driver-held weights) against
      * the Gopher gate as weak labels, then the whole corpus scored —
      * the DCLM/FineWeb "train a classifier on heuristic labels, keep
      * the soft score" pattern. The oracle replays the ENTIRE training
      * loop (features → standardization → 5 gradient steps → final
      * sigmoid), not just the output. See
      * [[graft.operators.QualityModel]]. */
    QueryDef("q189_quality_model", (s, dir) => {
      val f = QualityModel.standardize(
        QualityModel.features(t(s, dir, "documents"))).localCheckpoint(false)
      QualityModel.score(f, QualityModel.train(f, lr = 2.0, iters = 5))
    },
      // full LR training replay: integer-derived features (q21/q51
      // basis-point columns / 1e4 + ln(n_words)), z-scored against
      // 6-dp corpus stats, Gopher pass as the 0/1 label, then `LrIters`
      // full-batch gradient steps (lr 2) from w = 0 with the 6-dp
      // margin/sigmoid/gradient/weight rounding convention, and the
      // final sigmoid scored per document — see lrOracle
      lrOracle),

    /** The training shards themselves: BPE-tokenize every document under
      * the learned 6-merge vocabulary, concatenate token streams with an
      * `</s>` separator in doc_id order, and cut exact 128-token training
      * sequences across document boundaries (GPT-lineage packing; q118 is
      * the boundary-respecting variant, q41 the within-doc chunker). The
      * global token offsets come from [[graft.operators.Ranks
      * .withPrefixSum]]'s banded exclusive cumsum — no single-partition
      * window anywhere in the plan. Output is [[graft.operators.SeqPack
      * .packTokenStreamRows]]'s per-token row form (seq_id, slot, token):
      * the driver-verifiable contract carries no within-row ordering for
      * any engine to scramble (rounds 8 and 10 proved the assembled
      * `tokens`-string form hash-diverges across DuckDB builds). */
    QueryDef("q190_token_shards", (s, dir) => {
      val docs = t(s, dir, "documents")
      val (_, vocab) = Bpe.learn(Bpe.wordFreq(docs), nMerges = 6)
      SeqPack.packTokenStreamRows(Bpe.encodeTokens(docs, vocab), seqLen = 128)
    },
      // tokenize under the learned vocab, token positions from
      // tokPosCtes' ROW_NUMBER windows (NO ordered aggregation — the
      // r8/r10 driver-divergence construct is gone), global exclusive
      // offsets via a window cumsum, then pure arithmetic to per-token
      // (seq_id, slot, token) rows: the driver sorts rows before
      // hashing, so this shape is order-insensitive in ANY DuckDB
      (tokOffsetCtes + """
        | SELECT (o.off + tp.dpos) // 128 AS seq_id,
        |        (o.off + tp.dpos) % 128 AS slot, tp.tok AS token
        | FROM tp JOIN o USING (doc_id)""".stripMargin)),

    /** Curation by LEARNED quality under a token budget — the DCLM
      * recipe end-to-end: train the q189 classifier on the rule-gate
      * labels, score every document, keep the best-scoring prefix whose
      * cumulative words fit 25% of the corpus (q162's banded budget cut,
      * driven by the learned soft score instead of the heuristic). The
      * oracle replays training AND selection. */
    QueryDef("q191_learned_curation", (s, dir) => {
      val docs = t(s, dir, "documents")
      val f = QualityModel.standardize(
        QualityModel.features(docs)).localCheckpoint(false)
      val scored = QualityModel
        .score(f, QualityModel.train(f, lr = 2.0, iters = 5))
        .join(docs.select(col("doc_id"),
          TextOps.wordCount(col("text")).as("n_words")), Seq("doc_id"))
      Sampling.budgetSelect(scored,
        key = col("doc_id"), score = col("score_bp"),
        tokens = col("n_words"), budgetPct = 25)
        .select(col("key").as("doc_id"), col("score"), col("n_tokens"),
          col("cum_tokens"))
    },
      // the full LR replay (training CTEs shared with q189) feeding
      // q162's budget-cut shape: score every doc with the learned
      // sigmoid, keep the best prefix within 25% of corpus words
      (lrOracleCtes + s""",
        | scored AS (SELECT f.doc_id,
        |        CAST(floor($lrSigmoid * 10000) AS BIGINT) AS score
        |        FROM sfeats f, fin w),
        | tk AS (SELECT doc_id,
        |        CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |        FROM documents),
        | q AS (SELECT scored.doc_id, scored.score, tk.n_tokens
        |       FROM scored JOIN tk USING (doc_id)),
        | tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total FROM q),
        | r AS (SELECT doc_id, score, n_tokens,
        |              CAST(sum(n_tokens) OVER (ORDER BY score DESC, doc_id)
        |                AS BIGINT) AS cum_tokens
        |       FROM q)
        | SELECT doc_id, score, n_tokens, cum_tokens
        | FROM r, tot
        | WHERE cum_tokens <= (total * 25) // 100""".stripMargin)),

    /** Curriculum shards: q190's token-stream packing, but the stream is
      * ordered by QUALITY (q21's composite score desc, doc_id tiebreak)
      * instead of doc_id — the best documents fill the earliest training
      * sequences (quality-ordered curriculum). The order key is the exact
      * global rank from [[graft.operators.Ranks.withGlobalRank]], so
      * neither the ranking nor the offsets ever cross a single-partition
      * sort. */
    QueryDef("q192_curriculum_shards", (s, dir) => {
      val docs = t(s, dir, "documents")
      val (_, vocab) = Bpe.learn(Bpe.wordFreq(docs), nMerges = 6)
      val ranked = Ranks.withGlobalRank(
        TextOps.qualityFeatures(docs)
          .select(col("doc_id"), col("quality_score_bp")),
        key = col("quality_score_bp"), ascending = false,
        tie = col("doc_id"), outCol = "graft_rank")
        .select(col("doc_id"), col("graft_rank"))
      SeqPack.packTokenStreamRows(
        Bpe.encodeTokens(docs, vocab).join(ranked, Seq("doc_id")),
        seqLen = 128, orderKey = col("graft_rank"))
    },
      // q190's tokenize-and-cut, with the stream ordered by the q21
      // composite quality score (desc, doc_id tiebreak) — the oracle
      // ranks with the single-partition window the engine's banded
      // rank machinery avoids; same per-token row shape as q190
      (bpeOracleCtes(6) + tokPosCtes +
      """,
        | sc AS (SELECT doc_id,
        |               CAST(floor((least(CAST(len(string_split(text, ' ')) AS DOUBLE) / 100, 1.0) * 0.5
        |                 + least(CAST(len(regexp_extract_all(text, '\b(the|a|of|and|is|to|in)\b')) AS DOUBLE)
        |                         / len(string_split(text, ' ')) * 10, 1.0) * 0.3
        |                 + (1.0 - least(CAST(len(regexp_extract_all(text, '([.,!?;:''"()\[\]{}-])', 1)) AS DOUBLE)
        |                                / length(text) * 20, 1.0)) * 0.2) * 10000) AS BIGINT) AS score
        |        FROM documents),
        | rk AS (SELECT doc_id,
        |               ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rnk
        |        FROM sc),
        | o AS (SELECT rk.doc_id,
        |          CAST(coalesce(sum(dl.len) OVER (ORDER BY rk.rnk
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |            0) AS BIGINT) AS off
        |       FROM rk JOIN dl ON dl.doc_id = rk.doc_id)
        | SELECT (o.off + tp.dpos) // 128 AS seq_id,
        |        (o.off + tp.dpos) % 128 AS slot, tp.tok AS token
        | FROM tp JOIN o USING (doc_id)""".stripMargin)),

    /** Incremental daily-append shard packing: yesterday's batch (even
      * doc_ids) establishes the stream length; today's batch (odd
      * doc_ids) packs at `startOffset = streamLength(yesterday)`, so its
      * sequences continue the stored shard log exactly where it stopped —
      * the incremental form of q190. OperatorsSpec pins the merge law
      * (batch-2 pack merged onto the stored partial boundary row ≡
      * packing the union bit-exactly); [[graft.streaming
      * .StreamingShardPack]] runs the composed micro-batch loop. The
      * oracle replays the offset arithmetic: batch-1 total token count
      * (incl. one `</s>` per doc) shifts batch 2's global positions. */
    QueryDef("q193_incremental_shards", (s, dir) => {
      val docs = t(s, dir, "documents")
      val (_, vocab) = Bpe.learn(Bpe.wordFreq(docs), nMerges = 6)
      // localCheckpoint: the encode feeds both the offset scalar and the
      // pack; without the cut the vocab join + token reassembly runs twice
      val enc = Bpe.encodeTokens(docs, vocab).localCheckpoint(false)
      val off = SeqPack.streamLength(enc.filter(col("doc_id") % 2 === 0))
      SeqPack.packTokenStreamRows(
        enc.filter(col("doc_id") % 2 === 1), seqLen = 128, startOffset = off)
    },
      // q190's tokenize-and-cut over the ODD-doc_id batch only, with
      // every global position shifted by the EVEN-doc_id batch's total
      // token count (per-doc tokens + one </s> each) — the incremental
      // daily-append offset arithmetic of SeqPack.packTokenStream's
      // startOffset
      (bpeOracleCtes(6) + tokPosCtes +
      """,
        | off0 AS (SELECT CAST(coalesce(sum(len), 0) AS BIGINT) AS off0
        |          FROM dl WHERE doc_id % 2 = 0),
        | o AS (SELECT doc_id,
        |          off0.off0 + CAST(coalesce(sum(len) OVER (ORDER BY doc_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |            0) AS BIGINT) AS off
        |       FROM dl, off0 WHERE doc_id % 2 = 1)
        | SELECT (o.off + tp.dpos) // 128 AS seq_id,
        |        (o.off + tp.dpos) % 128 AS slot, tp.tok AS token
        | FROM tp JOIN o USING (doc_id)""".stripMargin)),

    /** q190's training shards plus the per-sequence DOCUMENT MANIFEST a
      * trainer needs to mask attention across document boundaries (the
      * LLaMA/T5-style "don't attend across `</s>`" convention): each
      * sequence also reports how many documents contribute tokens and the
      * "slot:doc_id" boundary list (slot 0 = a continuation of a doc the
      * previous cut split). Contract shape is [[graft.operators.SeqPack
      * .packTokenStreamManifest]]'s row set — one (seq_id, first_slot,
      * doc_id, n_doc_tokens) row per contributing document, min/count
      * aggregates only, so the driver's row-sorted hash is
      * order-insensitive by construction; the assembled-string form
      * ([[graft.operators.SeqPack.packTokenStreamWithBoundaries]])
      * stays spec-pinned for shard writing. */
    QueryDef("q194_shard_boundaries", (s, dir) => {
      val docs = t(s, dir, "documents")
      val (_, vocab) = Bpe.learn(Bpe.wordFreq(docs), nMerges = 6)
      SeqPack.packTokenStreamManifest(
        Bpe.encodeTokens(docs, vocab), seqLen = 128)
    },
      // q190's cut with the rows carrying doc_id, reduced to the
      // per-(seq, doc) manifest: min-slot + token count — unordered
      // aggregates only, row-sorted-hash stable by construction
      (tokOffsetCtes + """,
        | tr AS (SELECT tp.doc_id, (o.off + tp.dpos) // 128 AS seq_id,
        |               (o.off + tp.dpos) % 128 AS slot
        |        FROM tp JOIN o USING (doc_id))
        | SELECT seq_id, CAST(min(slot) AS BIGINT) AS first_slot, doc_id,
        |        CAST(count(*) AS BIGINT) AS n_doc_tokens
        | FROM tr GROUP BY seq_id, doc_id""".stripMargin)),

    /** DELTA-maintained BPE learning (see [[graft.operators.Bpe
      * .learnDelta]]): the q179 merge table learned without ever
      * recounting the vocabulary — per round only the words the merge
      * touches are re-paired, the exact count delta broadcasts into the
      * maintained pair table, and the guarded fold skips every
      * unaffected word. The oracle is q179's SQL UNCHANGED: the driver
      * gate itself proves the incremental recurrence equals the
      * recount-from-scratch one. */
    QueryDef("q195_bpe_delta", (s, dir) => {
      val (merges, _) =
        Bpe.learnDelta(Bpe.wordFreq(t(s, dir, "documents")), nRounds = 6)
      Bpe.mergesDf(s, merges)
    },
      // q179's oracle VERBATIM: learnDelta must reproduce the
      // recount-from-scratch recurrence exactly, so the same SQL gates it
      (bpeOracleCtes(6) + "\n " +
      (1 to 6).map(i =>
        s"SELECT CAST($i AS BIGINT) AS rank, lhs, rhs, cnt AS pair_count FROM m$i")
        .mkString("SELECT * FROM (", " UNION ALL ", ")"))),

    /** The tokenizer LIFECYCLE, end to end, gated by the driver: learn 3
      * merges, persist the tokenizer artifact ([[graft.operators.Bpe
      * .writeTokenizer]]: merge table + encoded vocabulary state as
      * parquet), reload it in a fresh read, and CONTINUE learning 3 more
      * merges from the reloaded state ([[graft.operators.Bpe
      * .learnContinue]]). Greedy BPE is prefix-stable, so the composed
      * table must equal learn(6) exactly — the oracle is q179's 6-round
      * SQL UNCHANGED, which therefore gates persistence round-trip AND
      * continuation in one row. This is the drift response: when
      * StreamingBpeDrift's fertility/OOV monitor fires, production
      * extends the frozen vocabulary from its persisted state without
      * retraining from characters. */
    QueryDef("q196_bpe_continue", (s, dir) => {
      val (m3, v3) = Bpe.learn(Bpe.wordFreq(t(s, dir, "documents")), nMerges = 3)
      val tmp = java.nio.file.Files.createTempDirectory("graft-tokenizer-q196").toFile
      // learnContinue collects every merge, so nothing reads tmp after it
      val m6 = try {
        Bpe.writeTokenizer(tmp.toString, m3, v3)
        val (mR, vR) = Bpe.readTokenizer(s, tmp.toString)
        Bpe.learnContinue(vR, mR, nMore = 3)._1
      } finally org.apache.commons.io.FileUtils.deleteQuietly(tmp)
      Bpe.mergesDf(s, m6)
    },
      // q179's oracle VERBATIM again: write → read → continue must equal
      // learn(6) by prefix-stability, so the same 6-round SQL gates the
      // persistence round-trip and the continuation in one row
      (bpeOracleCtes(6) + "\n " +
      (1 to 6).map(i =>
        s"SELECT CAST($i AS BIGINT) AS rank, lhs, rhs, cnt AS pair_count FROM m$i")
        .mkString("SELECT * FROM (", " UNION ALL ", ")"))),

    /** Shard-config ADVISOR: the numbers a pipeline owner needs BEFORE
      * committing a seqLen for [[graft.operators.SeqPack
      * .packTokenStream]] — for each candidate length, the sequence
      * count, the final-sequence padding waste, and how many documents a
      * cut would split mid-text (the attention-mask cost q194's
      * manifests exist to mitigate). Computed WITHOUT packing anything:
      * per-doc token counts from the memoized encode join (+1 for the
      * `</s>` separator, exactly [[graft.operators.SeqPack]]'s stream
      * law), global offsets from the banded prefix sum, then every
      * config is pure per-row arithmetic over the same doc-count-sized
      * frame — one broadcast of a 3-row config table, one grouped
      * aggregate, NO token explode. A doc splits iff its span
      * [off, off+len) straddles a cut (its trailing separator counts as
      * its own, matching the manifest's continuation-slot rule). At
      * 100 TB this is the difference between reading doc STATS once and
      * materializing three corpus-sized token streams to compare
      * configs. */
    QueryDef("q197_shard_advisor", (s, dir) => {
      val docs = t(s, dir, "documents")
      val (_, vocab) = Bpe.learn(Bpe.wordFreq(docs), nMerges = 6)
      SeqPack.configAdvisor(Bpe.encodeTokens(docs, vocab), Seq(64, 128, 256))
    },
      // per-doc BPE token counts (q180's encode CTEs) + 1 separator,
      // exclusive-cumsum offsets over doc_id, then pure arithmetic per
      // config — the oracle packs nothing, mirroring the engine
      (bpeOracleCtes(6) +
      """,
        | dl AS (SELECT t.doc_id,
        |          CAST(sum(len(v.syms)) AS BIGINT) + 1 AS len
        |        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
        |              FROM documents) t
        |        JOIN w6 v ON t.w = v.w WHERE t.w <> ''
        |        GROUP BY t.doc_id),
        | o AS (SELECT doc_id, len,
        |         CAST(coalesce(sum(len) OVER (ORDER BY doc_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |           AS BIGINT) AS off
        |       FROM dl),
        | cfg AS (SELECT CAST(unnest([64, 128, 256]) AS BIGINT) AS seq_len),
        | a AS (SELECT cfg.seq_len,
        |         CAST(sum(o.len) AS BIGINT) AS total_tokens,
        |         CAST(count(*) AS BIGINT) AS n_docs,
        |         CAST(sum(CASE WHEN o.off // cfg.seq_len
        |                    <> (o.off + o.len - 1) // cfg.seq_len
        |                  THEN 1 ELSE 0 END) AS BIGINT) AS n_split_docs
        |       FROM o CROSS JOIN cfg GROUP BY cfg.seq_len)
        | SELECT seq_len, total_tokens, n_docs,
        |        (total_tokens + seq_len - 1) // seq_len AS n_seqs,
        |        total_tokens % seq_len AS tail_tokens,
        |        (seq_len - total_tokens % seq_len) % seq_len AS pad_tokens,
        |        n_split_docs,
        |        n_split_docs * 10000 // n_docs AS split_bp
        | FROM a""".stripMargin)),

    /** The COMPLETE training data order, end to end — what the trainer's
      * data loader actually consumes for a multi-epoch mixture-weighted
      * run, every stage the already-gated operator: q49's deterministic
      * mixture resample sets the per-language epoch counts (en 2.0,
      * de 1.5, es 0.5 — fractional epochs hash-select their extra copy),
      * the stream order is epoch-major with a seeded deterministic
      * shuffle inside each epoch (copy·2⁴⁸ + the first 48 md5 bits as
      * ONE bigint key — hex-lexicographic ≡ numeric, so both engines
      * sort identically; doc_id breaks hash ties), the global positions
      * come from [[graft.operators.Ranks.withGlobalRank]]'s banded
      * decomposition, and the token stream packs into exact 128-token
      * sequences via q190's machinery. No single-partition sort
      * anywhere: rank and offsets are both banded, the resample is a
      * map-side explode, the shuffle key is scan-local arithmetic.
      * Upsampled documents tokenize ONCE (the encode join) and
      * replicate as ROWS, never as re-encoded text. */
    QueryDef("q198_training_order", (s, dir) => {
      val docs = t(s, dir, "documents")
      val (_, vocab) = Bpe.learn(Bpe.wordFreq(docs), nMerges = 6)
      val mix = Sampling.mixtureResample(
        docs.select(col("doc_id"), col("lang")), "lang", col("doc_id"),
        epochs = Map("en" -> 2.0, "de" -> 1.5, "es" -> 0.5))
        .select(col("doc_id"), col("copy"))
      // copy*2^48 + first 48 md5 bits: epoch-major, shuffled-within-epoch,
      // one bigint — 12 lowercase hex chars order identically as string
      // (the oracle) and as value (here); copy ≤ 3 keeps it well under 2^63
      // LAZY cut, forced by autoKeyBandBits' min/max scan right below
      // (no extra job): the ranked pipeline reads this frame three more
      // times (two histograms + the row frame), and without the cut each
      // read re-ran the mixture resample + md5 key derivation (r17)
      val keyed = mix.withColumn("graft_sk",
        col("copy") * lit(281474976710656L) + expr(
          "cast(conv(substring(md5(concat('graft-shuffle198:', " +
            "cast(doc_id as string))), 1, 12), 16, 10) as bigint)"))
        .localCheckpoint(false)
      // band width matched to the key DENSITY, not the default: these
      // are uniform 50-bit keys, so the default 16-bit bands would give
      // each key its own band and the band-offset triangular join goes
      // quadratic (measured: 10× factor 24.8; 40-bit bands → 5.41).
      // autoKeyBandBits derives exactly that width from the key span
      // (one scalar min/max) — ranks are band-width-invariant, so this
      // is purely the cost knob
      val ranked = Ranks.withGlobalRank(keyed, key = col("graft_sk"),
        ascending = true, tie = col("doc_id"), outCol = "ord",
        keyBandBits = Ranks.autoKeyBandBits(keyed, col("graft_sk")))
      val stream = ranked
        .join(Bpe.encodeTokens(docs, vocab), Seq("doc_id"))
        .select(col("ord"), col("tokens"))
      SeqPack.packTokenStreamRows(stream, seqLen = 128, orderKey = col("ord"))
    },
      // q190's token-stream CTEs + q49's mixture copies + the seeded
      // epoch-major shuffle: ORDER BY (copy, 12 md5 hex chars, doc_id)
      // replays the engine's single bigint key copy*2^48 + hex48 exactly
      // (fixed-width lowercase hex orders identically as string and value)
      (bpeOracleCtes(6) + tokPosCtes +
      """,
        | mix AS (SELECT doc_id,
        |           CASE lang WHEN 'en' THEN 2 WHEN 'de' THEN 1
        |                     WHEN 'es' THEN 0 ELSE 1 END
        |           + CASE WHEN substr(md5('graft-mix:' || CAST(doc_id AS VARCHAR)), 1, 2) <
        |                       CASE lang WHEN 'en' THEN '00' WHEN 'de' THEN '80'
        |                                 WHEN 'es' THEN '80' ELSE '00' END
        |                  THEN 1 ELSE 0 END AS n_copies
        |         FROM documents),
        | cp AS (SELECT doc_id, unnest(range(1, n_copies + 1)) AS copy
        |        FROM mix WHERE n_copies >= 1),
        | rk AS (SELECT doc_id,
        |          ROW_NUMBER() OVER (ORDER BY copy,
        |            substr(md5('graft-shuffle198:' || CAST(doc_id AS VARCHAR)), 1, 12),
        |            doc_id) AS ord
        |        FROM cp),
        | o AS (SELECT rk.ord, rk.doc_id,
        |          CAST(coalesce(sum(dl.len) OVER (ORDER BY rk.ord
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |            0) AS BIGINT) AS off
        |       FROM rk JOIN dl ON dl.doc_id = rk.doc_id)
        | SELECT (o.off + tp.dpos) // 128 AS seq_id,
        |        (o.off + tp.dpos) % 128 AS slot, tp.tok AS token
        | FROM o JOIN tp ON tp.doc_id = o.doc_id""".stripMargin)),

    /** Text scrubbing — q46's counting scan turned into the REWRITE
      * pass: PII placeholders plus a deny-term whole-word mask (the
      * corpus has no PII-shaped strings by construction, so the deny
      * list is what exercises the rewrite against the oracle; the PII
      * branch is fixture-proven in RedactRetrievalPackSpec). */
    QueryDef("q199_redact", (s, dir) =>
      TextOps.redact(t(s, dir, "documents"), denyTerms = Seq("spark", "merge")),
      // q46's proven regex dialect; replacements nest in the engine's
      // fixed order (the piiPatterns list order, then deny), counts on
      // the ORIGINAL text
      """SELECT doc_id,
        |  regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |  regexp_replace(regexp_replace(regexp_replace(regexp_replace(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\b[0-9]{3}[- .][0-9]{3}[- .][0-9]{4}\b', '<PHONE>', 'g'),
        |    '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IP>', 'g'),
        |    '\b(?:[0-9A-Fa-f]{1,4}:){7}[0-9A-Fa-f]{1,4}\b|\b(?:[0-9A-Fa-f]{1,4}:){1,6}(?::[0-9A-Fa-f]{1,4}){1,6}\b|\b(?:[0-9A-Fa-f]{1,4}:){2,7}:|::(?:[0-9A-Fa-f]{1,4}:){0,6}[0-9A-Fa-f]{1,4}\b', '<IPV6>', 'g'),
        |    '\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b', '<SSN>', 'g'),
        |    '\bAKIA[0-9A-Z]{16}\b', '<AWS_KEY>', 'g'),
        |    '-----BEGIN [A-Z ]*PRIVATE KEY-----', '<PRIVATE_KEY>', 'g'),
        |    '\b(spark|merge)\b', '<MASKED>', 'g') AS redacted,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
        |     + len(regexp_extract_all(text, '\b[0-9]{3}[- .][0-9]{3}[- .][0-9]{4}\b'))
        |     + len(regexp_extract_all(text, '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b'))
        |     + len(regexp_extract_all(text, '\b(?:[0-9A-Fa-f]{1,4}:){7}[0-9A-Fa-f]{1,4}\b|\b(?:[0-9A-Fa-f]{1,4}:){1,6}(?::[0-9A-Fa-f]{1,4}){1,6}\b|\b(?:[0-9A-Fa-f]{1,4}:){2,7}:|::(?:[0-9A-Fa-f]{1,4}:){0,6}[0-9A-Fa-f]{1,4}\b'))
        |     + len(regexp_extract_all(text, '\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b'))
        |     + len(regexp_extract_all(text, '\bAKIA[0-9A-Z]{16}\b'))
        |     + len(regexp_extract_all(text, '-----BEGIN [A-Z ]*PRIVATE KEY-----'))
        |    AS BIGINT) AS n_pii,
        |  CAST(len(regexp_extract_all(text, '\b(spark|merge)\b')) AS BIGINT) AS n_denied
        |FROM documents""".stripMargin),

    QueryDef("q200_hybrid_retrieval", hybridRetrieval,
      // the q50 BM25 leg (top-20) + the q29 cosine leg (query vector 0,
      // top-20), fused by reciprocal rank 1/(60+rank) — integer ranks, so
      // the fused doubles are bit-identical across engines
      s"""WITH $bm25RankCtes,
        | e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        | q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
        | s AS (SELECT vec_id, round(list_cosine_similarity(qv, v), 6) AS sim
        |       FROM e, q),
        | cr AS (SELECT vec_id AS doc_id, CAST(rn AS BIGINT) AS cos_rank FROM (
        |          SELECT vec_id,
        |                 ROW_NUMBER() OVER (ORDER BY sim DESC, vec_id) AS rn
        |          FROM s)
        |        WHERE rn <= 20)
        |$rrfTop10Select""".stripMargin),

    /** No-split depth-2 packing over the corpus token streams: longest
      * pairs with shortest (rank-closed folding), one pack unless the
      * pair overflows 416 — zero split docs by construction, padding
      * instead; q202 quantifies the trade against concat-and-chunk.
      * seqLen 416: the corpus averages ~210 BPE tokens/doc with fold
      * pair sums around ~420, so 416 is the regime where BOTH branches
      * engage (some pairs fit, some overflow) at sf0.01 AND sf0.1 —
      * at ≤400 every pack is a singleton, at ≥432 every pair fits,
      * and either pole gates only one branch. */
    QueryDef("q201_pack_depth2", (s, dir) => {
      val docs = t(s, dir, "documents")
      val (_, vocab) = Bpe.learn(Bpe.wordFreq(docs), nMerges = 6)
      SeqPack.packDepth2(Bpe.encodeTokens(docs, vocab), seqLen = 416)
    },
      // per-doc BPE lengths capped at 416 (the truncation contract), the
      // folding rank pairing replayed with ROW_NUMBER + min_by/max_by
      (bpeOracleCtes(6) +
      """,
        | dl AS (SELECT t.doc_id, CAST(least(sum(len(v.syms)), 416) AS BIGINT) AS len
        |        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
        |              FROM documents) t
        |        JOIN w6 v ON t.w = v.w WHERE t.w <> ''
        |        GROUP BY t.doc_id),
        | r AS (SELECT doc_id, len,
        |         CAST(ROW_NUMBER() OVER (ORDER BY len DESC, doc_id) AS BIGINT) AS rk,
        |         CAST(count(*) OVER () AS BIGINT) AS n
        |       FROM dl),
        | p AS (SELECT least(rk, n + 1 - rk) AS pair, count(*) AS c,
        |              min_by(doc_id, rk) AS hd, min_by(len, rk) AS hl,
        |              max_by(doc_id, rk) AS td, max_by(len, rk) AS tl
        |       FROM r GROUP BY 1),
        | s0 AS (SELECT (pair - 1) * 2 AS pack_id,
        |          CASE WHEN c = 2 AND hl + tl <= 416
        |               THEN CAST(hd AS VARCHAR) || ',' || CAST(td AS VARCHAR)
        |               ELSE CAST(hd AS VARCHAR) END AS doc_ids,
        |          CASE WHEN c = 2 AND hl + tl <= 416 THEN 2 ELSE 1 END AS n_docs,
        |          CASE WHEN c = 2 AND hl + tl <= 416 THEN hl + tl ELSE hl END AS n_tokens
        |        FROM p),
        | s1 AS (SELECT (pair - 1) * 2 + 1 AS pack_id, CAST(td AS VARCHAR) AS doc_ids,
        |               1 AS n_docs, tl AS n_tokens
        |        FROM p WHERE c = 2 AND hl + tl > 416)
        |SELECT CAST(pack_id AS BIGINT) AS pack_id, doc_ids,
        |       CAST(n_docs AS BIGINT) AS n_docs,
        |       CAST(n_tokens AS BIGINT) AS n_tokens,
        |       CAST(416 - n_tokens AS BIGINT) AS n_pad
        |FROM (SELECT * FROM s0 UNION ALL SELECT * FROM s1)""".stripMargin)),

    /** Packing-efficiency comparison — one row per strategy over the
      * same tokenized corpus at seqLen 416: `chunk` (q190's
      * concat-and-chunk stream law, separators included, zero padding
      * except the tail), `depth2` (q201's no-split folding packs), and
      * `lower_bound` (⌈Σ capped tokens / seqLen⌉ — the no-split floor no
      * assignment can beat). Output: n_seqs, n_pad, pad_bp (pad per
      * 10k slots) — the table a pipeline owner reads next to q197's
      * advisor when choosing between attention-clean packing and
      * maximum slot utilization. All three rows are arithmetic over
      * doc-level length frames (chunk/lower_bound) or the q201 pack
      * aggregate (depth2) — nothing corpus-sized materializes. */
    QueryDef("q202_pack_efficiency", (s, dir) => {
      val seqLen = 416
      val docs = t(s, dir, "documents")
      val (_, vocab) = Bpe.learn(Bpe.wordFreq(docs), nMerges = 6)
      val toks = Bpe.encodeTokens(docs, vocab)
      // ONE length projection feeds all three strategies — the tokenizer
      // encode join executes once, not once per consumer
      val lens = toks.select(
        col("doc_id").cast("bigint").as("doc_id"),
        size(col("tokens")).cast("bigint").as("raw"),
        least(size(col("tokens")), lit(seqLen)).cast("bigint").as("cap"))
        .localCheckpoint(false)
      val chunkRow = lens.agg(sum(col("raw") + 1).as("total"))
        .select(lit("chunk").as("method"),
          expr(s"(total + $seqLen - 1) div $seqLen").as("n_seqs"),
          expr(s"($seqLen - total % $seqLen) % $seqLen").as("n_pad"))
        .withColumn("pad_bp", expr(s"n_pad * 10000 div (n_seqs * $seqLen)"))
      val lbRow = lens.agg(sum(col("cap")).as("total"))
        .select(lit("lower_bound").as("method"),
          expr(s"(total + $seqLen - 1) div $seqLen").as("n_seqs"),
          expr(s"($seqLen - total % $seqLen) % $seqLen").as("n_pad"))
        .withColumn("pad_bp", expr(s"n_pad * 10000 div (n_seqs * $seqLen)"))
      val d2Row = SeqPack
        .packDepth2Lens(lens.select(col("doc_id"), col("cap").as("len")), seqLen)
        .agg(count(lit(1)).as("n_seqs"), sum(col("n_pad")).as("n_pad"))
        .select(lit("depth2").as("method"), col("n_seqs"), col("n_pad"))
        .withColumn("pad_bp", expr(s"n_pad * 10000 div (n_seqs * $seqLen)"))
      chunkRow.unionByName(d2Row).unionByName(lbRow)
    },
      // chunk = q190's stream law (raw + separator), depth2 = the q201
      // pack aggregate, lower_bound = the no-split floor over capped
      // lengths — all arithmetic over the same dl frame
      (bpeOracleCtes(6) +
      """,
        | dl AS (SELECT t.doc_id, CAST(sum(len(v.syms)) AS BIGINT) AS raw,
        |               CAST(least(sum(len(v.syms)), 416) AS BIGINT) AS cap
        |        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
        |              FROM documents) t
        |        JOIN w6 v ON t.w = v.w WHERE t.w <> ''
        |        GROUP BY t.doc_id),
        | chunk AS (SELECT 'chunk' AS method,
        |             (sum(raw + 1) + 415) // 416 AS n_seqs,
        |             (416 - sum(raw + 1) % 416) % 416 AS n_pad
        |           FROM dl),
        | lb AS (SELECT 'lower_bound' AS method,
        |          (sum(cap) + 415) // 416 AS n_seqs,
        |          (416 - sum(cap) % 416) % 416 AS n_pad
        |        FROM dl),
        | r AS (SELECT doc_id, cap AS len,
        |         CAST(ROW_NUMBER() OVER (ORDER BY cap DESC, doc_id) AS BIGINT) AS rk,
        |         CAST(count(*) OVER () AS BIGINT) AS n
        |       FROM dl),
        | p AS (SELECT least(rk, n + 1 - rk) AS pair, count(*) AS c,
        |              min_by(len, rk) AS hl, max_by(len, rk) AS tl
        |       FROM r GROUP BY 1),
        | packs AS (SELECT CASE WHEN c = 2 AND hl + tl <= 416 THEN hl + tl ELSE hl END AS n_tokens
        |           FROM p
        |           UNION ALL
        |           SELECT tl FROM p WHERE c = 2 AND hl + tl > 416),
        | d2 AS (SELECT 'depth2' AS method, count(*) AS n_seqs,
        |               sum(416 - n_tokens) AS n_pad
        |        FROM packs)
        |SELECT method, CAST(n_seqs AS BIGINT) AS n_seqs,
        |       CAST(n_pad AS BIGINT) AS n_pad,
        |       CAST(n_pad * 10000 // (n_seqs * 416) AS BIGINT) AS pad_bp
        |FROM (SELECT * FROM chunk UNION ALL SELECT * FROM d2
        |      UNION ALL SELECT * FROM lb)""".stripMargin)),

    QueryDef("q203_hybrid_ivf", hybridIvf,
      // q200's BM25 leg + the q30b-style IVF routing (one query vector,
      // nprobe 2) as the semantic leg, fused by the same reciprocal rank
      s"""WITH $bm25RankCtes,
        | e AS (SELECT label, vec_id, CAST(embedding AS DOUBLE[]) AS v
        |       FROM embeddings),
        | $hybridCentroidCte,
        | q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id = 0),
        | ${hybridProbesCte(2)},
        | sc AS (SELECT p.q_id, e.vec_id,
        |               round(list_cosine_similarity(p.qv, e.v), 6) AS sim
        |        FROM probes p JOIN e ON e.label = p.probe_label),
        | cr AS (SELECT vec_id AS doc_id, CAST(rn AS BIGINT) AS cos_rank FROM (
        |          SELECT vec_id,
        |                 ROW_NUMBER() OVER (ORDER BY sim DESC, vec_id) AS rn
        |          FROM sc)
        |        WHERE rn <= 20)
        |$rrfTop10Select""".stripMargin),

    /** Fusion-level recall audit: overlap@10 between the brute-leg
      * hybrid (q200) and the indexed-leg hybrid (q203) — the number an
      * operator actually watches when swapping the ANN index under a
      * live search stack ("how much did the FUSED top-k change?"),
      * the retrieval twin of q153/q185's raw-ANN recall audits. One
      * row: (k, n_common, recall_bp). Both rankings are k-bounded, so
      * the intersection join is trivial; the corpus-scale work is the
      * two legs' scans. */
    QueryDef("q205_hybrid_recall", (s, dir) => {
      val brute = hybridRetrieval(s, dir).select(col("doc_id"))
      val ivf = hybridIvf(s, dir).select(col("doc_id").as("ivf_doc_id"))
      brute.join(ivf, col("doc_id") === col("ivf_doc_id"))
        .agg(count(lit(1)).as("n_common"))
        .select(lit(10L).as("k"), col("n_common"),
          expr("n_common * 10000 div 10").as("recall_bp"))
    },
      // the q200 and q203 oracle stacks composed once each (shared BM25
      // leg), intersected at k=10 — the fused-ranking recall audit
      hybridRecallOracle(nprobe = 2, emitNprobe = false)),

    /** Uncertainty (boundary) sampling — the labeling-loop selection
      * step after q189's learned filter: the 25 documents whose learned
      * quality probability sits closest to the 0.5 decision boundary
      * (smallest |score − 0.5|) are exactly the ones a human labeler
      * reads next to improve the model fastest (the classic
      * active-learning margin heuristic). Margins compare as INTEGER
      * basis points (the same floor-bp discipline as q189), so the
      * cross-engine order is exact; ties break by doc_id. The selection
      * is a TakeOrderedAndProject over the scoring scan — no corpus
      * sort. */
    QueryDef("q204_boundary_sampling", (s, dir) => {
      val f = QualityModel.standardize(
        QualityModel.features(t(s, dir, "documents"))).localCheckpoint(false)
      QualityModel.score(f, QualityModel.train(f, lr = 2.0, iters = 5))
        .select(col("doc_id"), col("score_bp"),
          abs(col("score_bp") - 5000L).as("margin_bp"))
        .orderBy(col("margin_bp"), col("doc_id"))
        .limit(25)
    },
      // q189's full training replay; selection = smallest |score-0.5| in
      // integer basis points, doc_id ties — the active-learning batch
      (lrOracleCtes + s""",
        | sc AS (SELECT f.doc_id,
        |               CAST(floor($lrSigmoid * 10000) AS BIGINT) AS score_bp
        |        FROM sfeats f, fin w)
        |SELECT doc_id, score_bp, abs(score_bp - 5000) AS margin_bp
        |FROM sc
        |ORDER BY margin_bp, doc_id LIMIT 25""".stripMargin)),

    /** Driver-divergence PROBE 1 of 3 (round-10 VERDICT #2): multi-group
      * ordered `string_agg(… ORDER BY)` in the oracle, with groups
      * spanning many documents — the first of the three constructs the
      * q190-family reds could implicate. The engine side is the proven
      * sorted-collect_list assembly; the oracle is hand-checkable (ids
      * ascending within each doc_id%7 class). A red on THIS row and not
      * the others localizes the driver-DuckDB divergence to plain
      * ordered aggregation; green documents it as safe. */
    QueryDef("q206_probe_ordered_agg", (s, dir) =>
      t(s, dir, "documents")
        .groupBy((col("doc_id") % 7).as("grp"))
        .agg(count(lit(1)).as("n"),
          array_join(transform(
            array_sort(collect_list(struct(col("doc_id").as("k"),
              col("doc_id").cast("string").as("v")))),
            x => x.getField("v")), " ").as("ids")),
      // PROBE 1 (round-10 VERDICT #2): plain multi-group ordered
      // string_agg — groups span many docs; hand-checkable (ids ascend)
      """SELECT doc_id % 7 AS grp, CAST(count(*) AS BIGINT) AS n,
        |       string_agg(CAST(doc_id AS VARCHAR), ' ' ORDER BY doc_id) AS ids
        |FROM documents GROUP BY 1""".stripMargin),

    /** PROBE 2 of 3: the aggregate → `string_split` → re-unnest →
      * re-aggregate CHAIN — the r8/r10 oracles' exact assembly shape, in
      * miniature and with a hand-checkable answer (must equal probe 1's
      * ids under %5 classes). The engine computes the answer directly;
      * only the ORACLE walks the chain, so a red here with probe 1 green
      * indicts the resplit/unnest step specifically. */
    QueryDef("q207_probe_agg_resplit", (s, dir) =>
      t(s, dir, "documents")
        .groupBy((col("doc_id") % 5).as("grp"))
        .agg(count(lit(1)).as("n"),
          array_join(transform(
            array_sort(collect_list(struct(col("doc_id").as("k"),
              col("doc_id").cast("string").as("v")))),
            x => x.getField("v")), " ").as("ids")),
      // PROBE 2: the aggregate → string_split → re-unnest → re-aggregate
      // chain the r8/r10 shard oracles used, in miniature — must equal
      // probe 1's answer under %5 classes
      """WITH a AS (SELECT doc_id % 5 AS grp,
        |                  string_agg(CAST(doc_id AS VARCHAR), ' '
        |                             ORDER BY doc_id) AS s
        |           FROM documents GROUP BY 1),
        | u AS (SELECT grp, t.i AS i, t.v AS v FROM (
        |        SELECT grp, unnest(list_transform(
        |            range(1, len(string_split(s, ' ')) + 1),
        |            i -> struct_pack(i := i, v := string_split(s, ' ')[i]))) AS t
        |        FROM a))
        | SELECT grp, CAST(count(*) AS BIGINT) AS n,
        |        string_agg(v, ' ' ORDER BY i) AS ids
        | FROM u GROUP BY grp""".stripMargin),

    /** PROBE 3 of 3: window-cumsum-over-aggregate feeding a derived-slot
      * ordered aggregation — the q190 family's offset→slot→assemble
      * shape with the BPE stages stripped out: per-class counts, an
      * exclusive window cumsum, positions exploded, re-bucketed by
      * gpos/16, slots assembled in order. Hand-checkable: every full
      * bucket reads "0 1 2 … 15". */
    QueryDef("q208_probe_window_cumsum", (s, dir) => {
      val a = t(s, dir, "documents")
        .groupBy((col("doc_id") % 7).as("grp"))
        .agg(count(lit(1)).as("c"))
      // 7-row frame: the unpartitioned window is class-cardinality-bounded
      val o = a.withColumn("off",
        coalesce(sum(col("c")).over(Window.orderBy("grp")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      o.select(explode(sequence(lit(0L), col("c") - 1L)).as("i"), col("off"))
        .withColumn("gpos", col("off") + col("i"))
        .groupBy(expr("gpos div 16").as("bucket"))
        .agg(count(lit(1)).as("n"),
          array_join(transform(
            array_sort(collect_list(struct((col("gpos") % 16).as("slot"),
              (col("gpos") % 16).cast("string").as("v")))),
            x => x.getField("v")), " ").as("slots"))
    },
      // PROBE 3: window-cumsum-over-aggregate feeding a derived-slot
      // ordered aggregation — the q190 family's offset→slot→assemble
      // shape minus BPE; every full bucket must read "0 1 2 … 15"
      """WITH a AS (SELECT doc_id % 7 AS grp, CAST(count(*) AS BIGINT) AS c
        |           FROM documents GROUP BY 1),
        | o AS (SELECT grp, c,
        |          CAST(coalesce(sum(c) OVER (ORDER BY grp
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |            0) AS BIGINT) AS off
        |       FROM a),
        | t AS (SELECT off + u AS gpos
        |       FROM (SELECT off, unnest(range(0, c)) AS u FROM o))
        | SELECT gpos // 16 AS bucket, CAST(count(*) AS BIGINT) AS n,
        |        string_agg(CAST(gpos % 16 AS VARCHAR), ' '
        |                   ORDER BY gpos % 16) AS slots
        | FROM t GROUP BY 1""".stripMargin),

    /** The TUNED indexed-leg recall audit (round-10 VERDICT #4): q205's
      * fusion-level overlap@10, with the IVF leg at nprobe 7 — the
      * smallest config the round-11 DuckDB sweep found clearing ≥9000 bp
      * fused recall on this corpus (the full curve: nprobe 2-4 → 6000,
      * 5-6 → 7000, 7 → 10000 bp at sf0.1). The honest scale finding the
      * sweep surfaced: these synthetic embeddings' labels do NOT align
      * with cosine geometry, so label-partitioned IVF needs 7 of 10
      * clusters here — on a real corpus the cluster/geometry alignment
      * (q153/q205-style audits) must be measured BEFORE trusting a small
      * nprobe, which is exactly what this row institutionalizes. Output
      * is self-describing: (k, nprobe, n_common, recall_bp). */
    QueryDef("q209_hybrid_recall_tuned", (s, dir) => {
      val e = t(s, dir, "embeddings")
      val leg = Similarity.ivfTopK(e.filter(col("vec_id") === 0), e,
        Similarity.centroids(e), k = 20, nprobe = 7)
      val tuned = Retrieval.hybridTopKWithLeg(t(s, dir, "documents"),
        terms = Seq("spark", "merge", "window"), leg, kLeg = 20, k = 10)
        .select(col("doc_id").as("ivf_doc_id"))
      hybridRetrieval(s, dir).select(col("doc_id"))
        .join(tuned, col("doc_id") === col("ivf_doc_id"))
        .agg(count(lit(1)).as("n_common"))
        .select(lit(10L).as("k"), lit(7L).as("nprobe"), col("n_common"),
          expr("n_common * 10000 div 10").as("recall_bp"))
    },
      // the TUNED indexed leg (round-11 sweep): same replay at nprobe 7,
      // the smallest config clearing >= 9000 bp fused recall on testdata
      hybridRecallOracle(nprobe = 7, emitNprobe = true)),

    /** Multimodal perceptual near-dup (round-10 VERDICT #7): the frame
      * seam composed with LSH banding — [[graft.operators.Multimodal
      * .frameSignatures]]'s 60-bit average-hash per sampled full frame,
      * 2×30-bit band bucket join, popcount verify at Hamming ≤ 1
      * (pigeonhole-exact recall), rolled up per document pair. The
      * first-class dedup row q136's byte-exact form was missing: frames
      * that differ by one perceptual bit now pair. */
    QueryDef("q210_frame_phash", (s, dir) =>
      Multimodal.phashNearDupPairs(
        Multimodal.toMedia(t(s, dir, "documents")), frameBytes = 64, stride = 2),
      // q136's hex-frame CTEs extended to the perceptual path: byte
      // values from hex digits (strpos arithmetic — DuckDB has no blob
      // indexing), the 60-bit average-hash as an integer-exact CASE sum,
      // 2x30-bit banding, popcount-verified pairs, per-doc-pair rollup
      """WITH b AS (SELECT doc_id, upper(hex(CAST(text AS BLOB))) AS h,
        |                  octet_length(CAST(text AS BLOB)) AS n FROM documents),
        | fr AS (SELECT doc_id, i AS fi,
        |               substr(h, CAST(i * 128 + 1 AS BIGINT), 128) AS fh
        |        FROM (SELECT doc_id, h, unnest(range(0, (n + 63) // 64)) AS i
        |              FROM b)
        |        WHERE i % 2 = 0),
        | sg AS (SELECT doc_id, fi,
        |          list_transform(range(0, 60), j ->
        |            CAST(strpos('0123456789ABCDEF',
        |                        substr(fh, CAST(j*2+1 AS BIGINT), 1)) * 16
        |               + strpos('0123456789ABCDEF',
        |                        substr(fh, CAST(j*2+2 AS BIGINT), 1))
        |               - 17 AS BIGINT)) AS bytes
        |        FROM fr WHERE len(fh) = 128),
        | sig AS (SELECT doc_id, fi,
        |           list_sum(list_transform(range(0, 60), j ->
        |             CASE WHEN bytes[CAST(j+1 AS INT)] * 60 > list_sum(bytes)
        |                  THEN CAST(1 AS BIGINT) << CAST(j AS INT)
        |                  ELSE 0 END)) AS sig
        |         FROM sg),
        | band AS (SELECT doc_id, fi, sig, b,
        |                 (sig >> CAST(b*30 AS INT)) & 1073741823 AS key
        |          FROM sig, (SELECT unnest(range(0, 2)) AS b)),
        | cand AS (SELECT DISTINCT a.doc_id AS doc_a, a.fi AS fa, a.sig AS sa,
        |                 c.doc_id AS doc_b, c.fi AS fb, c.sig AS sb
        |          FROM band a JOIN band c USING (b, key)
        |          WHERE a.doc_id < c.doc_id),
        | ver AS (SELECT doc_a, doc_b,
        |                CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hd
        |         FROM cand WHERE bit_count(xor(sa, sb)) <= 1)
        | SELECT doc_a, doc_b, CAST(count(*) AS BIGINT) AS n_frame_pairs,
        |        CAST(min(hd) AS BIGINT) AS min_hamming
        | FROM ver GROUP BY doc_a, doc_b""".stripMargin),

    /** Deterministic train/val/test assignment — the split every
      * training run fixes BEFORE any pipeline stage runs: each document
      * hashes once (`md5('graft-split:' || doc_id)`, the corpus-seeded
      * convention of q49/q198) and its first 4 hex chars bucket it
      * 80/10/10 by fixed-width lowercase hex-string thresholds
      * ('cccc' = 0xCCCC/0x10000 ≈ 80%, 'e666' ≈ 90%) — hex-lexicographic
      * ≡ numeric, the exact cross-engine trick q198's shuffle key
      * proved, so the assignment is reproducible anywhere, stable under
      * corpus growth (a new doc never moves an old one), and
      * join-free at assignment time. Output: per (lang, split) doc and
      * word counts plus the within-lang share in floor-bp — the
      * stratification report that says whether hash-split left any
      * language's eval slice too thin. Scale: one scan, one
      * partial-agg groupBy; the share join is lang-cardinality-sized
      * and broadcast. */
    QueryDef("q211_train_split", (s, dir) => {
      val d = t(s, dir, "documents").select(col("lang"),
        TextOps.wordCount(col("text")).as("nw"),
        substring(md5(concat(lit("graft-split:"),
          col("doc_id").cast("string"))), 1, 4).as("h"))
      val g = d.select(col("lang"),
          when(col("h") < "cccc", "train")
            .when(col("h") < "e666", "val")
            .otherwise("test").as("split"), col("nw"))
        .groupBy(col("lang"), col("split"))
        .agg(count(lit(1)).as("n_docs"), sum(col("nw")).cast("bigint").as("n_words"))
      val tot = g.groupBy(col("lang"))
        .agg(sum(col("n_docs")).cast("bigint").as("graft_tot"))
      g.join(broadcast(tot), Seq("lang"))
        .select(col("lang"), col("split"), col("n_docs"), col("n_words"),
          expr("n_docs * 10000 div graft_tot").as("share_bp"))
    },
      // one md5 per doc, fixed-width lowercase hex thresholds (string
      // compare ≡ numeric — the q198 trick), stratification report per
      // (lang, split) with within-lang floor-bp shares
      """WITH d AS (SELECT lang,
        |         CAST(len(string_split(text, ' ')) AS BIGINT) AS nw,
        |         substr(md5('graft-split:' || CAST(doc_id AS VARCHAR)), 1, 4) AS h
        |       FROM documents),
        | s AS (SELECT lang,
        |         CASE WHEN h < 'cccc' THEN 'train'
        |              WHEN h < 'e666' THEN 'val'
        |              ELSE 'test' END AS split,
        |         nw FROM d),
        | g AS (SELECT lang, split, CAST(count(*) AS BIGINT) AS n_docs,
        |              CAST(sum(nw) AS BIGINT) AS n_words
        |       FROM s GROUP BY lang, split),
        | t AS (SELECT lang, CAST(sum(n_docs) AS BIGINT) AS tot
        |       FROM g GROUP BY lang)
        | SELECT g.lang, g.split, g.n_docs, g.n_words,
        |        g.n_docs * 10000 // t.tot AS share_bp
        | FROM g JOIN t USING (lang)""".stripMargin),

    /** CCNet-style perplexity bucketing (Wenzek et al. 2020): score every
      * document under the corpus's own bigram LM (q84's integer-exact
      * avg_logp), rank WITHIN EACH LANGUAGE (perplexity distributions
      * are not comparable across languages — the whole point of CCNet's
      * per-language split), and cut head/middle/tail terciles; the
      * report gives each (lang, bucket)'s doc/bigram counts and its
      * logp RANGE — the cutoffs a curation pass would then filter by.
      *
      * Scale shape: the per-lang rank is NOT a lang-partitioned window
      * (5 partitions each corpus/5-sized = the single-partition hazard
      * wearing a wig); it is ONE banded global rank over the lang-major
      * composite key `langIdx·2⁴⁴ − lp_e4`, per-lang rank = global rank
      * − the lang's offset (lang-cardinality driver state, same pattern
      * as the k-means centroids). The oracle replays with the
      * PARTITION BY lang window DuckDB can afford. */
    QueryDef("q212_ccnet_buckets", (s, dir) => {
      val docs = t(s, dir, "documents")
      val scored = TextOps.bigramLogprob(docs)
        .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
        .withColumn("lp_e4", round(col("avg_logp") * 1e4).cast("bigint"))
        .localCheckpoint() // the banded rank reads its input twice
      // lang-cardinality small state: index + exclusive offset per lang
      val counts = scored.groupBy(col("lang"))
        .agg(count(lit(1)).as("n")).collect()
        .map(r => (r.getString(0), r.getLong(1))).sortBy(_._1)
      val offs = counts.scanLeft(0L)(_ + _._2)
      val li = counts.map(_._1).zipWithIndex.toMap
      def chain(f: ((String, Long), Int) => Column): Column =
        counts.zipWithIndex.foldLeft(lit(0L)) { case (acc, (c, i)) =>
          when(col("lang") === c._1, f(c, i)).otherwise(acc)
        }
      val keyed = scored.withColumn("graft_key",
        chain((c, _) => lit(li(c._1).toLong * (1L << 44))) - col("lp_e4"))
      Ranks.withGlobalRank(keyed, key = col("graft_key"), ascending = true,
          tie = col("doc_id"), outCol = "graft_r")
        .withColumn("graft_pr", col("graft_r") - chain((_, i) => lit(offs(i))))
        .withColumn("graft_cnt", chain((c, _) => lit(c._2)))
        .withColumn("bucket",
          when((col("graft_pr") - 1) * 3 < col("graft_cnt"), "head")
            .when((col("graft_pr") - 1) * 3 < col("graft_cnt") * 2, "middle")
            .otherwise("tail"))
        .groupBy(col("lang"), col("bucket"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_bigrams")).cast("bigint").as("n_bigrams"),
          min(col("lp_e4")).as("lp_min_e4"),
          max(col("lp_e4")).as("lp_max_e4"))
    },
      // q84's LM CTEs verbatim, then the CCNet split: per-lang
      // ROW_NUMBER over (lp_e4 DESC, doc_id), terciles by
      // (rank-1)*3 // lang count, bucket ranges as min/max integers
      """WITH bg AS (
        |   SELECT doc_id,
        |          unnest(list_transform(range(1, len(s)),
        |                 i -> s[i] || ' ' || s[i+1])) AS bg
        |   FROM (SELECT doc_id, string_split(text, ' ') AS s FROM documents)),
        | cb AS (SELECT bg, count(*) AS cb FROM bg GROUP BY bg),
        | cw AS (SELECT w, count(*) AS cw FROM
        |          (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        |        GROUP BY w),
        | v AS (SELECT count(DISTINCT w) AS vsz FROM
        |         (SELECT unnest(string_split(text, ' ')) AS w FROM documents)),
        | lm AS (
        |   SELECT cb.bg,
        |          round(ln((cb + 0.5) / (cw + 0.5 * vsz)), 8) AS logp
        |   FROM cb JOIN cw ON split_part(cb.bg, ' ', 1) = cw.w, v),
        | sc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |          CAST(round(round(CAST(sum(CAST(round(logp * 100000000) AS BIGINT))
        |                     AS BIGINT)
        |                / (count(logp) * 100000000.0), 4) * 10000) AS BIGINT)
        |            AS lp_e4
        |        FROM bg JOIN lm USING (bg)
        |        GROUP BY doc_id),
        | sl AS (SELECT sc.*, d.lang,
        |          ROW_NUMBER() OVER (PARTITION BY d.lang
        |                             ORDER BY sc.lp_e4 DESC, sc.doc_id) AS pr,
        |          count(*) OVER (PARTITION BY d.lang) AS cnt
        |        FROM sc JOIN documents d USING (doc_id))
        | SELECT lang,
        |        CASE WHEN (pr - 1) * 3 < cnt THEN 'head'
        |             WHEN (pr - 1) * 3 < cnt * 2 THEN 'middle'
        |             ELSE 'tail' END AS bucket,
        |        CAST(count(*) AS BIGINT) AS n_docs,
        |        CAST(sum(n_bigrams) AS BIGINT) AS n_bigrams,
        |        CAST(min(lp_e4) AS BIGINT) AS lp_min_e4,
        |        CAST(max(lp_e4) AS BIGINT) AS lp_max_e4
        | FROM sl GROUP BY 1, 2""".stripMargin),

    /** Sorted-batching efficiency — the inference-side twin of q202's
      * packing report: batches of 32 documents padded to their longest
      * member, built two ways — `sorted` (global length-desc order, the
      * classic dynamic-batching trick) vs `arrival` (doc_id order, what
      * a naive loader does) — and the padding bill for each. Both
      * assignments are pure rank arithmetic over [[graft.operators
      * .Ranks.withGlobalRank]]'s banded decomposition (batch = (rank−1)
      * div 32), so there is no corpus sort in either branch; the oracle
      * replays with ROW_NUMBER windows. Output per strategy:
      * (strategy, n_batches, n_tokens, padded_slots, pad_tokens,
      * pad_bp) — on this corpus sorted batching cuts padding roughly an
      * order of magnitude, which is exactly the number a serving stack
      * wants before committing to a loader. */
    QueryDef("q213_sorted_batching", (s, dir) => {
      val R = 32
      val lens = t(s, dir, "documents")
        .select(col("doc_id"), TextOps.wordCount(col("text")).as("len"))
        .localCheckpoint() // both rankings read it
      def report(strategy: String, key: Column, asc: Boolean): DataFrame =
        Ranks.withGlobalRank(lens, key = key, ascending = asc,
            tie = col("doc_id"), outCol = "graft_r")
          .groupBy(expr(s"(graft_r - 1) div $R").as("graft_b"))
          .agg(count(lit(1)).as("graft_n"), max(col("len")).as("graft_m"),
            sum(col("len")).cast("bigint").as("graft_s"))
          .agg(count(lit(1)).as("n_batches"),
            sum(col("graft_s")).cast("bigint").as("n_tokens"),
            sum(col("graft_n") * col("graft_m")).cast("bigint").as("padded_slots"))
          .select(lit(strategy).as("strategy"), col("n_batches"),
            col("n_tokens"), col("padded_slots"),
            (col("padded_slots") - col("n_tokens")).as("pad_tokens"),
            expr("(padded_slots - n_tokens) * 10000 div padded_slots")
              .as("pad_bp"))
      report("sorted", col("len"), asc = false)
        .unionByName(report("arrival", col("doc_id"), asc = true))
    },
      // two ROW_NUMBER assignments (length-desc vs doc_id), batch =
      // (rank-1)//32 padded to its max length, per-strategy rollup
      """WITH l AS (SELECT doc_id,
        |             CAST(len(string_split(text, ' ')) AS BIGINT) AS len
        |           FROM documents),
        | s AS (SELECT 'sorted' AS strategy,
        |         (ROW_NUMBER() OVER (ORDER BY len DESC, doc_id) - 1) // 32 AS b,
        |         len FROM l
        |       UNION ALL
        |       SELECT 'arrival' AS strategy,
        |         (ROW_NUMBER() OVER (ORDER BY doc_id) - 1) // 32 AS b,
        |         len FROM l),
        | g AS (SELECT strategy, b, count(*) AS n, max(len) AS m,
        |              CAST(sum(len) AS BIGINT) AS sl
        |       FROM s GROUP BY strategy, b)
        | SELECT strategy, CAST(count(*) AS BIGINT) AS n_batches,
        |        CAST(sum(sl) AS BIGINT) AS n_tokens,
        |        CAST(sum(n * m) AS BIGINT) AS padded_slots,
        |        CAST(sum(n * m) - sum(sl) AS BIGINT) AS pad_tokens,
        |        CAST((sum(n * m) - sum(sl)) * 10000 // sum(n * m) AS BIGINT)
        |          AS pad_bp
        | FROM g GROUP BY strategy""".stripMargin),

    /** The CLEANING FUNNEL — stage attribution for the standard
      * curation cascade, each stage the already-gated operator applied
      * to the previous stage's survivors: gopher rule gate (q51) →
      * language-ID agreement (q22's decision == the recorded lang) →
      * exact dedup to the min-id keeper WITHIN survivors (q24) →
      * eval-set decontamination (q85's 6-gram artifact, eval =
      * doc_id ≡ 7 mod 50). Output: one row per stage with
      * (n_in, n_dropped, n_out) — the "where did my corpus go"
      * readout every pipeline owner builds first, and the ablation
      * baseline for reordering stages. Scale shape: every stage is a
      * semi/anti-join of checkpointed survivor frames; the counts are
      * scalar aggregates; the report itself is 4 literal rows. */
    QueryDef("q214_cleaning_funnel", (s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents")
      val base = docs.select(col("doc_id"), col("lang"), col("text"))
      val s1 = base.join(
        TextOps.gopherRules(docs).filter(col("pass")).select(col("doc_id")),
        Seq("doc_id"), "left_semi").localCheckpoint()
      val s2 = s1.join(
        TextOps.langId(s1).filter(col("pred_lang") === col("lang"))
          .select(col("doc_id")),
        Seq("doc_id"), "left_semi").localCheckpoint()
      val s3 = s2.join(
        s2.groupBy(md5(col("text")).as("graft_h"))
          .agg(min(col("doc_id")).as("doc_id")).select(col("doc_id")),
        Seq("doc_id"), "left_semi").localCheckpoint()
      val evalGrams = Decontaminate.evalGramSet(
        docs.filter(col("doc_id") % 50 === 7), n = 6)
      val s4 = s3.join(
        Decontaminate.contaminatedIds(s3, evalGrams,
          Decontaminate.bloomBytesOf(evalGrams), n = 6),
        Seq("doc_id"), "left_anti")
      val n0 = base.count(); val n1 = s1.count(); val n2 = s2.count()
      val n3 = s3.count(); val n4 = s4.count()
      Seq(
        ("gopher", 1L, n0, n0 - n1, n1),
        ("langid", 2L, n1, n1 - n2, n2),
        ("exact_dedup", 3L, n2, n2 - n3, n3),
        ("decontam", 4L, n3, n3 - n4, n4))
        .toDF("stage", "stage_order", "n_in", "n_dropped", "n_out")
    },
      // the q51 / q22 / q24 / q85 predicates composed as a cascade —
      // each stage filters the previous stage's survivors, the report
      // is 4 count rows
      """WITH gp AS (
        |   SELECT b.doc_id FROM (
        |     SELECT doc_id,
        |            CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
        |            CAST(floor(CAST(length(text) - (len(string_split(text, ' ')) - 1) AS DOUBLE)
        |                  / len(string_split(text, ' ')) * 10000) AS BIGINT) AS awl,
        |            CAST(len(list_distinct(regexp_extract_all(text, '\b(the|a|of|and|is|to|in)\b'))) AS BIGINT) AS nsf
        |     FROM documents) b
        |   JOIN (SELECT doc_id, max(c) AS max_tf
        |         FROM (SELECT doc_id, w, count(*) AS c
        |               FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
        |                     FROM documents)
        |               GROUP BY doc_id, w) GROUP BY doc_id) wf USING (doc_id)
        |   WHERE b.n_words BETWEEN 50 AND 100000
        |     AND b.awl BETWEEN 30000 AND 100000
        |     AND b.nsf >= 2
        |     AND floor(CAST(wf.max_tf AS DOUBLE) / b.n_words * 10000) <= 800),
        | s1 AS (SELECT d.doc_id, d.lang, d.text
        |        FROM documents d JOIN gp USING (doc_id)),
        | s2 AS (SELECT * FROM s1 WHERE
        |         CASE WHEN length(regexp_replace(text, '[ -~]', '', 'g')) > 0 THEN 'zh'
        |              WHEN len(regexp_extract_all(text, '\b(the|a|of|and|is)\b')) = 0
        |                   AND len(regexp_extract_all(text, '\b(der|die|das|und|ist)\b')) = 0
        |                   AND len(regexp_extract_all(text, '\b(el|los|una|y|es)\b')) = 0
        |                   AND len(regexp_extract_all(text, '\b(le|la|et|les|des)\b')) = 0 THEN 'unknown'
        |              WHEN len(regexp_extract_all(text, '\b(the|a|of|and|is)\b')) >= len(regexp_extract_all(text, '\b(der|die|das|und|ist)\b'))
        |                   AND len(regexp_extract_all(text, '\b(the|a|of|and|is)\b')) >= len(regexp_extract_all(text, '\b(el|los|una|y|es)\b'))
        |                   AND len(regexp_extract_all(text, '\b(the|a|of|and|is)\b')) >= len(regexp_extract_all(text, '\b(le|la|et|les|des)\b')) THEN 'en'
        |              WHEN len(regexp_extract_all(text, '\b(der|die|das|und|ist)\b')) >= len(regexp_extract_all(text, '\b(el|los|una|y|es)\b'))
        |                   AND len(regexp_extract_all(text, '\b(der|die|das|und|ist)\b')) >= len(regexp_extract_all(text, '\b(le|la|et|les|des)\b')) THEN 'de'
        |              WHEN len(regexp_extract_all(text, '\b(el|los|una|y|es)\b')) >= len(regexp_extract_all(text, '\b(le|la|et|les|des)\b')) THEN 'es'
        |              ELSE 'fr' END = lang),
        | k AS (SELECT min(doc_id) AS doc_id FROM s2 GROUP BY md5(text)),
        | s3 AS (SELECT s2.* FROM s2 JOIN k USING (doc_id)),
        | sh AS (SELECT doc_id,
        |               unnest(list_transform(range(1, len(s) - 4),
        |                      i -> s[i] || ' ' || s[i+1] || ' ' || s[i+2] || ' ' || s[i+3]
        |                        || ' ' || s[i+4] || ' ' || s[i+5])) AS sh
        |        FROM (SELECT doc_id, string_split(text, ' ') AS s FROM s3)),
        | ev AS (SELECT DISTINCT sh FROM (
        |          SELECT unnest(list_transform(range(1, len(s) - 4),
        |                 i -> s[i] || ' ' || s[i+1] || ' ' || s[i+2] || ' ' || s[i+3]
        |                   || ' ' || s[i+4] || ' ' || s[i+5])) AS sh
        |          FROM (SELECT string_split(text, ' ') AS s FROM documents
        |                WHERE doc_id % 50 = 7))),
        | dirty AS (SELECT DISTINCT doc_id FROM sh JOIN ev USING (sh)),
        | s4 AS (SELECT doc_id FROM s3
        |        WHERE doc_id NOT IN (SELECT doc_id FROM dirty)),
        | c AS (SELECT (SELECT count(*) FROM documents) AS n0,
        |              (SELECT count(*) FROM s1) AS n1,
        |              (SELECT count(*) FROM s2) AS n2,
        |              (SELECT count(*) FROM s3) AS n3,
        |              (SELECT count(*) FROM s4) AS n4)
        | SELECT 'gopher' AS stage, CAST(1 AS BIGINT) AS stage_order,
        |        n0 AS n_in, n0 - n1 AS n_dropped, n1 AS n_out FROM c
        | UNION ALL SELECT 'langid', CAST(2 AS BIGINT), n1, n1 - n2, n2 FROM c
        | UNION ALL SELECT 'exact_dedup', CAST(3 AS BIGINT), n2, n2 - n3, n3 FROM c
        | UNION ALL SELECT 'decontam', CAST(4 AS BIGINT), n3, n3 - n4, n4 FROM c""".stripMargin),

    /** Corpus DIVERSITY report — distinct-n (unique n-grams / total
      * n-grams, the corpus-level cousin of Self-BLEU) per source for
      * n ∈ {1, 2, 3}: low distinct-2/3 flags template-generated or
      * boilerplate-heavy feeds before they dilute training data; the
      * per-source split says WHICH feed. Exact integer counts, floor-bp
      * ratio; one explode per n with partial-agg distinct counting —
      * at 100 TB each n is a scan + one (source, gram)-keyed
      * aggregation, no windows, no pairs. */
    QueryDef("q215_distinct_ngrams", (s, dir) => {
      import graft.functions.WordShingles.word_shingles
      val docs = t(s, dir, "documents")
      def one(n: Int): DataFrame =
        docs.select(col("source"),
            explode(word_shingles(col("text"), n)).as("g"))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_grams"),
            countDistinct(col("g")).as("n_distinct"))
          .select(col("source"), lit(n.toLong).as("n"),
            col("n_grams"), col("n_distinct"),
            expr("n_distinct * 10000 div n_grams").as("distinct_bp"))
      one(1).unionByName(one(2)).unionByName(one(3))
    },
      // three gram explodes (duplicates kept — diversity is the point),
      // per-source distinct counting, floor-bp ratios
      """WITH w AS (SELECT source, string_split(text, ' ') AS s FROM documents),
        | g1 AS (SELECT source, unnest(list_transform(range(1, len(s) + 1),
        |               i -> s[i])) AS g FROM w),
        | g2 AS (SELECT source, unnest(list_transform(range(1, len(s)),
        |               i -> s[i] || ' ' || s[i+1])) AS g FROM w),
        | g3 AS (SELECT source, unnest(list_transform(range(1, len(s) - 1),
        |               i -> s[i] || ' ' || s[i+1] || ' ' || s[i+2])) AS g FROM w),
        | u AS (SELECT source, CAST(1 AS BIGINT) AS n, g FROM g1
        |       UNION ALL SELECT source, CAST(2 AS BIGINT), g FROM g2
        |       UNION ALL SELECT source, CAST(3 AS BIGINT), g FROM g3)
        | SELECT source, n, CAST(count(*) AS BIGINT) AS n_grams,
        |        CAST(count(DISTINCT g) AS BIGINT) AS n_distinct,
        |        count(DISTINCT g) * 10000 // count(*) AS distinct_bp
        | FROM u GROUP BY source, n""".stripMargin),

    /** The IVF index made REAL at scale (round-11 VERDICT #2): q209's
      * honest finding was that LABEL-partitioned IVF needs nprobe 7 of
      * 10 clusters for ≥9000 bp fused recall — the labels don't align
      * with cosine geometry, so the "index" scanned 70 % of the corpus.
      * This row re-clusters GEOMETRICALLY with √N k-means (modular
      * seeds dense-numbered by vec_id, one Lloyd round — the
      * [[graft.operators.Clustering.kmeansFrom]] refit primitive) and
      * sweeps nprobe as a FRACTION of the cluster count (2/5/10/20/40 %,
      * scale-invariant), auditing what q209 didn't: probe_fraction_bp
      * and rows_scanned alongside fused recall. Measured result on this
      * corpus: nprobe=1 of √N clusters reaches 9000 bp (sf0.01) /
      * 10000 bp (sf0.1) fused recall scanning 520 / 230 bp of the
      * corpus — the cluster GEOMETRY was the whole problem, not IVF.
      * Every per-config stage is k- or cluster-bounded: the corpus-side
      * work is one assignment scan + per-config candidate scoring over
      * the probed clusters only (WindowGroupLimit cuts each config's
      * candidates to top-20 map-side). Output: one row per swept pct. */
    QueryDef("q216_ivf_probe_audit", (s, dir) => {
      val (e, cent, kc, asg, n) = sqrtKmeansParts(s, dir)
      // query vec 0 routed against all centroids — cluster-count-bounded
      val q0 = e.filter(col("vec_id") === 0)
        .select(col("embedding").cast("array<double>").as("qv"))
      val routed = q0.crossJoin(broadcast(cent))
        .select(col("cluster"),
          (round(Similarity.cosine(col("qv"), col("centroid")), 6) + lit(0.0))
            .as("csim"))
        .withColumn("prn", row_number().over(
          Window.orderBy(col("csim").desc, col("cluster"))).cast("bigint"))
      val sweep = s.range(1)
        .select(explode(array(Seq(2L, 5L, 10L, 20L, 40L).map(lit): _*)).as("pct"))
        .select(col("pct"),
          expr(s"greatest(CAST(1 AS BIGINT), ($kc * pct) div 100)").as("nprobe"))
        .localCheckpoint(false)
      val probes = sweep.join(routed, col("prn") <= col("nprobe"))
        .select(col("pct"), col("cluster"))
      val scanned = probes
        .join(asg.groupBy(col("cluster")).agg(count(lit(1)).as("sz")), Seq("cluster"))
        .groupBy(col("pct")).agg(sum(col("sz")).as("rows_scanned"))
      // exact cosine of every corpus vector to the query, tagged with
      // its cluster, then fanned out to the configs that probe it —
      // per-config top-20 via a pct-partitioned WindowGroupLimit rank
      val cri = e.select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        .join(asg.select(col("vec_id"), col("cluster")), Seq("vec_id"))
        .crossJoin(broadcast(q0))
        .select(col("vec_id"), col("cluster"),
          round(Similarity.cosine(col("qv"), col("v")), 6).as("sim"))
        .join(probes, Seq("cluster"))
        .withColumn("cos_rank", row_number().over(
          Window.partitionBy(col("pct"))
            .orderBy(col("sim").desc, col("vec_id"))).cast("bigint"))
        .filter(col("cos_rank") <= 20)
        .select(col("pct"), col("vec_id").as("doc_id"), col("cos_rank"))
      // BM25 leg (config-independent) replicated per config; fusion and
      // top-10 are ≤(20+20)-row-per-config windows
      val bm = Retrieval.bm25TopK(t(s, dir, "documents"),
          terms = Seq("spark", "merge", "window"), k = 20)
        .select(col("doc_id"), row_number().over(
          Window.orderBy(col("score").desc, col("doc_id")))
          .cast("bigint").as("bm25_rank"))
      val brp = bm.crossJoin(sweep.select(col("pct")))
      val fused = brp.join(cri, Seq("pct", "doc_id"), "full_outer")
        .select(col("pct"), col("doc_id"),
          round(
            coalesce(lit(1.0) / (lit(60) + col("bm25_rank")), lit(0.0)) +
              coalesce(lit(1.0) / (lit(60) + col("cos_rank")), lit(0.0)),
            6).as("rrf"))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("pct"))
            .orderBy(col("rrf").desc, col("doc_id"))))
        .filter(col("rn") <= 10)
        .select(col("pct"), col("doc_id"))
      val fb = hybridRetrieval(s, dir).select(col("doc_id"))
      val rec = fused.join(broadcast(fb), Seq("doc_id"))
        .groupBy(col("pct")).agg(count(lit(1)).as("n_common"))
      sweep
        .join(scanned, Seq("pct"), "left")
        .join(rec, Seq("pct"), "left")
        .select(col("pct"), col("nprobe"), lit(kc).as("kcluster"),
          coalesce(col("rows_scanned"), lit(0L)).as("rows_scanned"),
          expr(s"CAST(coalesce(rows_scanned, 0) * 10000 div $n AS BIGINT)")
            .as("probe_fraction_bp"),
          coalesce(col("n_common"), lit(0L)).as("n_common"),
          expr("CAST(coalesce(n_common, 0) * 10000 div 10 AS BIGINT)")
            .as("recall_bp"))
    },
      // the √N-kmeans IVF probe sweep: modular seeds dense-numbered by
      // vec_id (rounded 6 dp), ONE Lloyd round (q171's proven assignment
      // + rounded-mean CTE shapes), nprobe = max(1, k·pct/100) per swept
      // pct, probe fraction from the assignment's cluster sizes, fused
      // recall via the q200/q209 RRF replay
      s"""WITH $sqrtKmeansIvfCtes,
        | routed AS (SELECT cluster, CAST(ROW_NUMBER() OVER (
        |                ORDER BY round(list_cosine_similarity(q.qv, c1.c), 6) + 0.0 DESC,
        |                         c1.cluster) AS BIGINT) AS prn
        |            FROM q, cent1 c1),
        | sweep AS (SELECT CAST(pct AS BIGINT) AS pct,
        |                  greatest(CAST(1 AS BIGINT), (kc.k * pct) // 100) AS nprobe
        |           FROM (SELECT unnest([2, 5, 10, 20, 40]) AS pct), kc),
        | probes AS (SELECT sw.pct, sw.nprobe, r.cluster
        |            FROM sweep sw JOIN routed r ON r.prn <= sw.nprobe),
        | scanned AS (SELECT pct, CAST(sum(cs.sz) AS BIGINT) AS rows_scanned
        |             FROM probes JOIN csize cs USING (cluster) GROUP BY pct),
        | cand AS (SELECT p.pct, e.vec_id,
        |                 round(list_cosine_similarity(q.qv, e.v), 6) AS sim
        |          FROM probes p JOIN asg ON asg.cluster = p.cluster
        |          JOIN e ON e.vec_id = asg.vec_id, q),
        | cri AS (SELECT pct, vec_id AS doc_id, CAST(rn AS BIGINT) AS cos_rank FROM (
        |           SELECT pct, vec_id,
        |                  ROW_NUMBER() OVER (PARTITION BY pct
        |                    ORDER BY sim DESC, vec_id) AS rn
        |           FROM cand)
        |         WHERE rn <= 20),
        | $bruteHybridTop10Ctes,
        | brp AS (SELECT sw.pct, br.doc_id, br.bm25_rank FROM br, sweep sw),
        | fi AS (SELECT pct, doc_id FROM (
        |          SELECT coalesce(brp.pct, cri.pct) AS pct,
        |                 coalesce(brp.doc_id, cri.doc_id) AS doc_id,
        |                 ROW_NUMBER() OVER (PARTITION BY coalesce(brp.pct, cri.pct)
        |                   ORDER BY round(coalesce(1.0 / (60 + brp.bm25_rank), 0)
        |                                + coalesce(1.0 / (60 + cri.cos_rank), 0), 6) DESC,
        |                            coalesce(brp.doc_id, cri.doc_id)) AS rn
        |          FROM brp FULL OUTER JOIN cri
        |            ON brp.pct = cri.pct AND brp.doc_id = cri.doc_id)
        |        WHERE rn <= 10),
        | rec AS (SELECT fi.pct, CAST(count(*) AS BIGINT) AS n_common
        |         FROM fi JOIN fbx USING (doc_id) GROUP BY fi.pct)
        |SELECT sw.pct, sw.nprobe, kc.k AS kcluster,
        |       coalesce(sc.rows_scanned, 0) AS rows_scanned,
        |       CAST(coalesce(sc.rows_scanned, 0) * 10000 // st.n AS BIGINT) AS probe_fraction_bp,
        |       coalesce(rec.n_common, 0) AS n_common,
        |       CAST(coalesce(rec.n_common, 0) * 10000 // 10 AS BIGINT) AS recall_bp
        |FROM sweep sw
        |LEFT JOIN scanned sc USING (pct)
        |LEFT JOIN rec USING (pct), kc, st""".stripMargin),

    /** q216's tuned config as the PRODUCTION artifact: the learned
      * √N-kmeans clusters PERSISTED as a label-partitioned parquet index
      * ([[graft.operators.Similarity.writeIvfIndex]]), probed through
      * [[graft.operators.Similarity.ivfTopKIndexed]] — the scan is
      * partition-PRUNED to the one probed cluster's directories
      * (PartitionFilters, plan-asserted in IvfPqSpec's learned-cluster
      * case) — and fused into the hybrid leg seam. nprobe=1 (the q216
      * sweep's cheapest config clearing 9000 bp). Output self-describes
      * like q216: (k, nprobe, kcluster, rows_scanned,
      * probe_fraction_bp, n_common, recall_bp). At 100 TB this is the
      * whole ANN story in one row: build once at ingest (k-means +
      * partitioned write), probe reads ~1/√N of the files, fusion math
      * untouched. */
    QueryDef("q217_ivf_indexed_fused", (s, dir) => {
      val (e, cent, kc, asg, n) = sqrtKmeansParts(s, dir)
      val idxDir = learnedIvfIndex(
        e.select(col("vec_id"), col("embedding"))
          .join(asg.select(col("vec_id"), col("cluster").as("label")),
            Seq("vec_id")),
        dir)
      val leg = Similarity.ivfTopKIndexed(s, idxDir,
        e.filter(col("vec_id") === 0),
        cent.withColumnRenamed("cluster", "label"), k = 20, nprobe = 1)
      // probe stats: the one probed cluster's member count
      val q0 = e.filter(col("vec_id") === 0)
        .select(col("embedding").cast("array<double>").as("qv"))
      val probed = q0.crossJoin(broadcast(cent))
        .select(col("cluster"),
          (round(Similarity.cosine(col("qv"), col("centroid")), 6) + lit(0.0))
            .as("csim"))
        .orderBy(col("csim").desc, col("cluster")).limit(1)
        .select(col("cluster"))
      val scanned = asg.join(broadcast(probed), Seq("cluster"))
        .agg(count(lit(1)).as("rows_scanned"))
      val fusedTop = Retrieval.hybridTopKWithLeg(t(s, dir, "documents"),
        terms = Seq("spark", "merge", "window"), leg, kLeg = 20, k = 10)
        .select(col("doc_id").as("ivf_doc_id"))
      hybridRetrieval(s, dir).select(col("doc_id"))
        .join(fusedTop, col("doc_id") === col("ivf_doc_id"))
        .agg(count(lit(1)).as("n_common"))
        .crossJoin(scanned)
        .select(lit(10L).as("k"), lit(1L).as("nprobe"), lit(kc).as("kcluster"),
          col("rows_scanned"),
          expr(s"CAST(rows_scanned * 10000 div $n AS BIGINT)")
            .as("probe_fraction_bp"),
          col("n_common"),
          expr("CAST(n_common * 10000 div 10 AS BIGINT)").as("recall_bp"))
    },
      // q216's CTE chain specialized to the shipped config (nprobe=1,
      // one row): the oracle replays the LOGICAL computation; the
      // ENGINE answers it through the persisted partition-pruned index
      // (spec-asserted equal to the in-memory path)
      s"""WITH $sqrtKmeansIvfCtes,
        | probes AS (SELECT cluster FROM (
        |              SELECT c1.cluster,
        |                     ROW_NUMBER() OVER (
        |                       ORDER BY round(list_cosine_similarity(q.qv, c1.c), 6) + 0.0 DESC,
        |                                c1.cluster) AS prn
        |              FROM q, cent1 c1)
        |            WHERE prn <= 1),
        | scanned AS (SELECT CAST(sum(cs.sz) AS BIGINT) AS rows_scanned
        |             FROM probes JOIN csize cs USING (cluster)),
        | cand AS (SELECT e.vec_id,
        |                 round(list_cosine_similarity(q.qv, e.v), 6) AS sim
        |          FROM probes p JOIN asg ON asg.cluster = p.cluster
        |          JOIN e ON e.vec_id = asg.vec_id, q),
        | cri AS (SELECT vec_id AS doc_id, CAST(rn AS BIGINT) AS cos_rank FROM (
        |           SELECT vec_id,
        |                  ROW_NUMBER() OVER (ORDER BY sim DESC, vec_id) AS rn
        |           FROM cand)
        |         WHERE rn <= 20),
        | $bruteHybridTop10Ctes,
        | fi AS (SELECT doc_id FROM (
        |          SELECT coalesce(br.doc_id, cri.doc_id) AS doc_id,
        |                 ROW_NUMBER() OVER (
        |                   ORDER BY round(coalesce(1.0 / (60 + br.bm25_rank), 0)
        |                                + coalesce(1.0 / (60 + cri.cos_rank), 0), 6) DESC,
        |                            coalesce(br.doc_id, cri.doc_id)) AS rn
        |          FROM br FULL OUTER JOIN cri ON br.doc_id = cri.doc_id)
        |        WHERE rn <= 10),
        | rec AS (SELECT CAST(count(*) AS BIGINT) AS n_common
        |         FROM fi JOIN fbx USING (doc_id))
        |SELECT CAST(10 AS BIGINT) AS k, CAST(1 AS BIGINT) AS nprobe,
        |       kc.k AS kcluster, sc.rows_scanned,
        |       CAST(sc.rows_scanned * 10000 // st.n AS BIGINT) AS probe_fraction_bp,
        |       rec.n_common,
        |       CAST(rec.n_common * 10000 // 10 AS BIGINT) AS recall_bp
        |FROM kc, st, scanned sc, rec""".stripMargin),

    /** Media-format census over the binary payload column — the triage
      * scan a 100-TB media corpus runs BEFORE paying for any decode:
      * [[graft.operators.Multimodal.sniffFormat]]'s magic-byte sniff
      * (real header parsing, no codec), rolled up to (format, n_docs,
      * n_bytes). On the text-payload testdata every row reads
      * "unknown" — the format branches are fixture-pinned in
      * MultimodalSpec with real PNG/JPEG/GIF/PDF/ZIP headers; this row
      * gates the hex-prefix parity and the rollup. Scan-local codegen'd
      * CASE, one format-cardinality aggregation. */
    QueryDef("q218_media_formats", (s, dir) =>
      Multimodal.toMedia(t(s, dir, "documents"))
        .select(Multimodal.sniffFormat(col("payload")).as("format"),
          octet_length(col("payload")).cast("bigint").as("nb"))
        .groupBy(col("format"))
        .agg(count(lit(1)).as("n_docs"), sum(col("nb")).as("n_bytes")),
      // magic-byte sniff replayed on leading hex chars (2 per byte —
      // DuckDB has no BLOB substring; the q136 trick)
      """WITH m AS (SELECT upper(hex(CAST(text AS BLOB))) AS h,
        |                  CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS nb
        |           FROM documents)
        |SELECT CASE WHEN h LIKE '89504E47%' THEN 'png'
        |            WHEN h LIKE 'FFD8FF%' THEN 'jpeg'
        |            WHEN h LIKE '47494638%' THEN 'gif'
        |            WHEN h LIKE '25504446%' THEN 'pdf'
        |            WHEN h LIKE '52494646%' AND substr(h, 17, 8) = '57454250'
        |                 THEN 'webp'
        |            WHEN h LIKE '52494646%' THEN 'riff'
        |            WHEN h LIKE '504B0304%' THEN 'zip'
        |            WHEN h LIKE '1F8B%' THEN 'gzip'
        |            ELSE 'unknown' END AS format,
        |       CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(nb) AS BIGINT) AS n_bytes
        |FROM m GROUP BY 1""".stripMargin),

    /** Whitespace/control normalization report —
      * [[graft.operators.TextOps.normalizeText]] over the corpus with
      * before/after lengths and a changed flag: the cleaning stage that
      * runs BEFORE anything hashes or shingles text (CRLF vs LF or a
      * double space otherwise defeats exact dedup and shifts every
      * n-gram). The testdata is already clean (changed=false
      * everywhere — the row gates the full normalized-text parity);
      * dirty branches are fixture-pinned in TextOpsSpec territory
      * (RedactRetrievalPackSpec's normalize cases). */
    QueryDef("q219_normalize", (s, dir) => {
      val norm = TextOps.normalizeText(col("text"))
      t(s, dir, "documents").select(
        col("doc_id"), norm.as("normalized"),
        length(col("text")).cast("bigint").as("n_chars_raw"),
        length(norm).cast("bigint").as("n_chars_norm"),
        (norm =!= col("text")).as("changed"))
    },
      // the ASCII normalization chain replayed verbatim (RE2 and
      // java.util.regex agree on \xNN classes; unicode classes would
      // not — deliberately excluded, see TextOps.normalizeText)
      """SELECT doc_id,
        |  trim(regexp_replace(regexp_replace(text,
        |    '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]', '', 'g'),
        |    '[ \t\r\n]+', ' ', 'g')) AS normalized,
        |  CAST(length(text) AS BIGINT) AS n_chars_raw,
        |  CAST(length(trim(regexp_replace(regexp_replace(text,
        |    '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]', '', 'g'),
        |    '[ \t\r\n]+', ' ', 'g'))) AS BIGINT) AS n_chars_norm,
        |  trim(regexp_replace(regexp_replace(text,
        |    '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]', '', 'g'),
        |    '[ \t\r\n]+', ' ', 'g')) <> text AS changed
        |FROM documents""".stripMargin),

    /** Within-document language segmentation
      * ([[graft.operators.TextOps.langSegments]], 20-word windows):
      * modal window language + minority share per doc — the
      * mixed-language probe that must run BEFORE per-language bucketing
      * (q212) scores a half-English half-German page under the wrong
      * LM. Oracle replays the window slicing and the q22 argmax per
      * window. */
    QueryDef("q220_lang_segments", (s, dir) =>
      TextOps.langSegments(t(s, dir, "documents"), windowWords = 20),
      // 20-word window slices (DuckDB 1-based inclusive list slicing ≡
      // Spark's slice(arr, start, len) under end-clipping), the q22
      // argmax per window, modal lang via ROW_NUMBER
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        | sidx AS (SELECT doc_id, ws,
        |                 unnest(range(0, ((len(ws) - 1) // 20) + 1)) AS i
        |          FROM w),
        | segs AS (SELECT doc_id,
        |                 array_to_string(ws[CAST(i*20+1 AS INT):CAST(i*20+20 AS INT)], ' ') AS seg
        |          FROM sidx),
        | pred AS (SELECT doc_id,
        |            CASE WHEN length(regexp_replace(seg, '[ -~]', '', 'g')) > 0 THEN 'zh'
        |                 WHEN len(regexp_extract_all(seg, '\b(the|a|of|and|is)\b')) = 0
        |                      AND len(regexp_extract_all(seg, '\b(der|die|das|und|ist)\b')) = 0
        |                      AND len(regexp_extract_all(seg, '\b(el|los|una|y|es)\b')) = 0
        |                      AND len(regexp_extract_all(seg, '\b(le|la|et|les|des)\b')) = 0 THEN 'unknown'
        |                 WHEN len(regexp_extract_all(seg, '\b(the|a|of|and|is)\b')) >= len(regexp_extract_all(seg, '\b(der|die|das|und|ist)\b'))
        |                      AND len(regexp_extract_all(seg, '\b(the|a|of|and|is)\b')) >= len(regexp_extract_all(seg, '\b(el|los|una|y|es)\b'))
        |                      AND len(regexp_extract_all(seg, '\b(the|a|of|and|is)\b')) >= len(regexp_extract_all(seg, '\b(le|la|et|les|des)\b')) THEN 'en'
        |                 WHEN len(regexp_extract_all(seg, '\b(der|die|das|und|ist)\b')) >= len(regexp_extract_all(seg, '\b(el|los|una|y|es)\b'))
        |                      AND len(regexp_extract_all(seg, '\b(der|die|das|und|ist)\b')) >= len(regexp_extract_all(seg, '\b(le|la|et|les|des)\b')) THEN 'de'
        |                 WHEN len(regexp_extract_all(seg, '\b(el|los|una|y|es)\b')) >= len(regexp_extract_all(seg, '\b(le|la|et|les|des)\b')) THEN 'es'
        |                 ELSE 'fr' END AS pred_lang
        |          FROM segs),
        | cnt AS (SELECT doc_id, pred_lang, CAST(count(*) AS BIGINT) AS c
        |         FROM pred GROUP BY 1, 2),
        | tot AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_segments FROM cnt GROUP BY 1),
        | top AS (SELECT doc_id, pred_lang, c FROM (
        |           SELECT doc_id, pred_lang, c,
        |                  ROW_NUMBER() OVER (PARTITION BY doc_id
        |                    ORDER BY c DESC, pred_lang) AS rn
        |           FROM cnt)
        |         WHERE rn = 1)
        |SELECT t.doc_id, t.n_segments, top.pred_lang AS dominant_lang,
        |       top.c AS n_dominant,
        |       CAST((t.n_segments - top.c) * 10000 // t.n_segments AS BIGINT)
        |         AS minority_bp
        |FROM tot t JOIN top USING (doc_id)""".stripMargin),

    /** Token-budget mixture plan
      * ([[graft.operators.Sampling.tokenBudgetPlan]]): per-source token
      * targets for a half-the-corpus budget under weights derived
      * deterministically from the source id (N%4 + 1 — so the plan
      * exercises unequal weights without a 20-entry literal). The
      * "data recipe" table a pretraining run freezes before q49/q198's
      * mixture resampling executes it; epochs_e4 > 10000 flags sources
      * that must repeat. All-integer floor arithmetic, replayed
      * verbatim by the oracle. */
    QueryDef("q221_token_budget", (s, dir) => {
      val docs = t(s, dir, "documents")
      val weights = docs.select(col("source")).distinct()
        .select(col("source"),
          (regexp_extract(col("source"), "([0-9]+)", 1).cast("bigint") % 4 + 1)
            .as("weight"))
      Sampling.tokenBudgetPlan(docs, weights, budgetNum = 1, budgetDen = 2)
    },
      // all-integer floor arithmetic: budget = total//2, per-source
      // target = budget*w//sum(w), epochs in floor-e4
      s"""WITH $mixtureSourceCtes,
        | -- weight sum over the COVERED sources (av ⋈ w), matching the
        | -- engine's joined-set wSum; identical here since w is derived
        | -- from the same distinct-source set as av
        | ws AS (SELECT CAST(sum(weight) AS BIGINT) AS s
        |        FROM w JOIN av USING (source))
        |SELECT av.source, av.n_tokens_avail, w.weight,
        |       CAST((tot.t // 2) * w.weight // ws.s AS BIGINT) AS n_tokens_target,
        |       CAST(CASE WHEN av.n_tokens_avail = 0 THEN 0
        |            ELSE CAST((tot.t // 2) * w.weight // ws.s AS BIGINT) * 10000
        |                 // av.n_tokens_avail END AS BIGINT) AS epochs_e4,
        |       CAST((tot.t // 2) * w.weight // ws.s AS BIGINT) > av.n_tokens_avail
        |         AS needs_upsampling
        |FROM av JOIN w USING (source), tot, ws""".stripMargin),

    /** The plan→execution audit closing q221's loop (r12 verdict Next
      * #3): q221's frozen recipe drives
      * [[graft.operators.Sampling.mixtureResample]] — each source's
      * epochs are its planned epochs_e4/10⁴ (a source-cardinality driver
      * map, like the k-means centroids) — and the audit reports, per
      * source, the planned target vs the tokens the executed mixture
      * actually delivers, with the gap in basis points. This is the
      * table a real run reads BEFORE training: floor-e4 epochs and the
      * 1/256-granular fractional-epoch hash cut both bias delivery low,
      * and the audit makes that drift visible instead of trusted.
      * abs_delta_bp stays non-negative (Spark `div` truncates toward
      * zero, DuckDB `//` floors — they disagree on NEGATIVE operands, so
      * the sign travels separately as `over_delivered`). One corpus scan
      * for the plan, one for the delivery; everything else is
      * source-cardinality-sized. */
    QueryDef("q222_mixture_delivery", (s, dir) => {
      val docs = t(s, dir, "documents")
      val weights = docs.select(col("source")).distinct()
        .select(col("source"),
          (regexp_extract(col("source"), "([0-9]+)", 1).cast("bigint") % 4 + 1)
            .as("weight"))
      val plan = Sampling.tokenBudgetPlan(docs, weights, budgetNum = 1,
        budgetDen = 2).localCheckpoint(false)
      val epochs: Map[String, Double] = plan
        .select(col("source"), col("epochs_e4")).collect()
        .map(r => r.getString(0) -> r.getLong(1) / 10000.0).toMap
      val delivered = Sampling
        .mixtureResample(docs, "source", col("doc_id"), epochs)
        .select(col("source"), TextOps.tokenCount(col("text")).as("graft_t"))
        .groupBy(col("source"))
        .agg(sum(col("graft_t")).as("n_tokens_delivered"))
      plan.select(col("source"), col("n_tokens_target"), col("epochs_e4"))
        .join(delivered, Seq("source"), "left")
        .select(col("source"), col("n_tokens_target"), col("epochs_e4"),
          coalesce(col("n_tokens_delivered"), lit(0L)).as("n_tokens_delivered"))
        .withColumn("abs_delta_bp",
          expr("CAST(CASE WHEN n_tokens_target = 0 THEN 0 ELSE " +
            "abs(n_tokens_delivered - n_tokens_target) * 10000 " +
            "div n_tokens_target END AS BIGINT)"))
        .withColumn("over_delivered",
          col("n_tokens_delivered") > col("n_tokens_target"))
    },
      // q221's plan replayed, then the q49-proven resample CTE driven by
      // the PLANNED epochs: base = epochs_e4 // 10000, fractional cut =
      // round(frac * 256) as a 2-hex-char threshold (the engine's cutHex;
      // 'g' sorts above every bucket when the cut saturates at 256).
      // Non-negative delta only: Spark div truncates toward zero, DuckDB
      // // floors — they disagree below zero, so the sign is a boolean.
      s"""WITH $mixtureSourceCtes,
        | ws AS (SELECT CAST(sum(weight) AS BIGINT) AS s
        |        FROM w JOIN av USING (source)),
        | plan AS (SELECT av.source,
        |            CAST((tot.t // 2) * w.weight // ws.s AS BIGINT)
        |              AS n_tokens_target,
        |            CAST(CASE WHEN av.n_tokens_avail = 0 THEN 0
        |              ELSE CAST((tot.t // 2) * w.weight // ws.s AS BIGINT)
        |                   * 10000 // av.n_tokens_avail END AS BIGINT)
        |              AS epochs_e4
        |          FROM av JOIN w USING (source), tot, ws),
        | cuts AS (SELECT source, n_tokens_target, epochs_e4,
        |            epochs_e4 // 10000 AS base,
        |            CASE WHEN ((epochs_e4 % 10000) * 256 + 5000) // 10000 >= 256
        |                 THEN 'g'
        |                 ELSE printf('%02x',
        |                   ((epochs_e4 % 10000) * 256 + 5000) // 10000) END AS cut
        |          FROM plan),
        | dv AS (SELECT d.source,
        |          CAST(sum((c.base +
        |            CASE WHEN substr(md5('graft-mix:' || CAST(d.doc_id AS VARCHAR)), 1, 2)
        |                      < c.cut THEN 1 ELSE 0 END) *
        |            len(regexp_extract_all(d.text,
        |              '([A-Za-z]+|[0-9]+|[^A-Za-z0-9 ])', 1))) AS BIGINT)
        |            AS n_tokens_delivered
        |        FROM documents d JOIN cuts c USING (source)
        |        GROUP BY d.source)
        |SELECT c.source, c.n_tokens_target, c.epochs_e4,
        |       coalesce(dv.n_tokens_delivered, 0) AS n_tokens_delivered,
        |       CAST(CASE WHEN c.n_tokens_target = 0 THEN 0
        |            ELSE abs(coalesce(dv.n_tokens_delivered, 0) - c.n_tokens_target)
        |                 * 10000 // c.n_tokens_target END AS BIGINT) AS abs_delta_bp,
        |       coalesce(dv.n_tokens_delivered, 0) > c.n_tokens_target
        |         AS over_delivered
        |FROM cuts c LEFT JOIN dv USING (source)""".stripMargin),

    /** Fill-in-the-middle transform
      * ([[graft.operators.TextOps.fimTransform]], Bavarian et al. 2022):
      * a deterministic half of the corpus re-ordered PSM
      * (`<PRE>prefix<SUF>suffix<MID>middle`) with doc_id-derived cut
      * points — the data-side FIM pass a code/infilling pretraining run
      * applies after curation. One codegen'd projection; the oracle
      * replays the multiplicative hashes and substr arithmetic
      * verbatim. */
    QueryDef("q223_fim_transform", (s, dir) =>
      TextOps.fimTransform(t(s, dir, "documents"), ratePermille = 500),
      // the FIM hashes + substr arithmetic replayed verbatim, in the
      // engine's REDUCED modular form ((id·c) mod m = ((id mod m)(c mod
      // m)) mod m — same values, no bigint overflow at any doc_id): % on
      // non-negative bigints, 1-based substr, and length()/substr()
      // codepoint semantics all agree across engines (multibyte text is
      // parity-safe — FimUnicodeSpec pins the codepoint cuts; the
      // testdata corpus is ASCII anyway)
      """WITH b AS (SELECT doc_id, text,
        |    CAST(length(text) AS BIGINT) AS n,
        |    ((doc_id % 1000) * 761) % 1000 < 500 AS applied,
        |    least(((doc_id % (CAST(length(text) AS BIGINT) + 1))
        |           * (7919 % (CAST(length(text) AS BIGINT) + 1)))
        |          % (CAST(length(text) AS BIGINT) + 1),
        |          ((doc_id % (CAST(length(text) AS BIGINT) + 1))
        |           * (104729 % (CAST(length(text) AS BIGINT) + 1)))
        |          % (CAST(length(text) AS BIGINT) + 1)) AS lo,
        |    greatest(((doc_id % (CAST(length(text) AS BIGINT) + 1))
        |              * (7919 % (CAST(length(text) AS BIGINT) + 1)))
        |             % (CAST(length(text) AS BIGINT) + 1),
        |             ((doc_id % (CAST(length(text) AS BIGINT) + 1))
        |              * (104729 % (CAST(length(text) AS BIGINT) + 1)))
        |             % (CAST(length(text) AS BIGINT) + 1)) AS hi
        |  FROM documents)
        |SELECT doc_id, applied AS fim_applied,
        |       CAST(lo AS BIGINT) AS n_prefix,
        |       CAST(hi - lo AS BIGINT) AS n_middle,
        |       CAST(n - hi AS BIGINT) AS n_suffix,
        |       CASE WHEN applied THEN
        |         '<PRE>' || substr(text, 1, CAST(lo AS INT)) ||
        |         '<SUF>' || substr(text, CAST(hi + 1 AS INT), CAST(n - hi AS INT)) ||
        |         '<MID>' || substr(text, CAST(lo + 1 AS INT), CAST(hi - lo AS INT))
        |       ELSE text END AS training_text
        |FROM b""".stripMargin),

    /** T5-style span corruption
      * ([[graft.operators.TextOps.spanCorrupt]], Raffel et al. 2020):
      * 3-word spans masked every 20 words (15 % noise density, T5's
      * defaults) with sequentially-numbered sentinels; emits the
      * (corrupted input, targets) pair per document. Scan-local array
      * lambdas — no explode, no shuffle; the oracle rebuilds the same
      * pieces with list_transform over an index range. */
    QueryDef("q224_span_corrupt", (s, dir) =>
      TextOps.spanCorrupt(t(s, dir, "documents"), every = 20, spanLen = 3),
      // the span-corruption pieces rebuilt via list_transform over an
      // index range (the q207-proven idiom); counts from the same floor
      // arithmetic as the engine
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        | p AS (SELECT doc_id, len(ws) AS n,
        |    list_transform(range(0, len(ws)), i ->
        |      CASE WHEN i % 20 = 0
        |             THEN '<extra_id_' || CAST(i // 20 AS VARCHAR) || '>'
        |           WHEN i % 20 < 3 THEN NULL
        |           ELSE ws[CAST(i + 1 AS INT)] END) AS ip,
        |    list_transform(range(0, len(ws)), i ->
        |      CASE WHEN i % 20 = 0
        |             THEN '<extra_id_' || CAST(i // 20 AS VARCHAR) || '> '
        |                  || ws[CAST(i + 1 AS INT)]
        |           WHEN i % 20 < 3 THEN ws[CAST(i + 1 AS INT)]
        |           ELSE NULL END) AS tp
        |  FROM w)
        |SELECT doc_id,
        |       array_to_string(list_filter(ip, x -> x IS NOT NULL), ' ') AS corrupted,
        |       array_to_string(list_filter(tp, x -> x IS NOT NULL), ' ') AS targets,
        |       CAST(n AS BIGINT) AS n_words,
        |       CAST((n // 20) * 3 + least(3, n % 20) AS BIGINT) AS n_masked,
        |       CAST((n + 19) // 20 AS BIGINT) AS n_spans
        |FROM p""".stripMargin),

    /** Span-level decontamination surgery
      * ([[graft.operators.Decontaminate.decontamSurgery]], Lee et al.
      * 2022): the q43 eval artifact (docs 0–2's 6-gram hashes + bloom)
      * probed against the train corpus (docs ≥ 3), but contaminated
      * SPANS are cut and the rest of each document survives — the
      * long-document alternative to q43's whole-doc drop, where one
      * leaked prompt must not discard a million clean words. Bloom
      * prefilter + hash-exact verify (FPs cut nothing), q188's coverage
      * explode + per-doc reassembly. */
    QueryDef("q225_decontam_surgery", (s, dir) => {
      val docs = t(s, dir, "documents")
      val evalGrams = Decontaminate.evalGramSet(
        docs.filter(col("doc_id") < 3), n = 6)
      Decontaminate.decontamSurgery(
        docs.filter(col("doc_id") >= 3).select(col("doc_id"), col("text")),
        evalGrams, Decontaminate.bloomBytesOf(evalGrams), n = 6)
    },
      // the q188 span-cut shape with the q43 eval artifact as the gram
      // filter: grams as raw strings (the oracle needs no xxhash64 —
      // string equality IS the hash-exact verify), coverage via the
      // 0..5 offset cross, reassembly via the q188-proven ordered
      // string_agg
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS s FROM documents),
        | occ AS (SELECT doc_id, t.pos AS pos, t.g AS g FROM (
        |     SELECT doc_id, unnest(list_transform(range(1, len(s) - 4), i ->
        |         struct_pack(pos := i - 1,
        |                     g := array_to_string(s[i:i+5], ' ')))) AS t
        |     FROM w WHERE len(s) >= 6)),
        | ev AS (SELECT DISTINCT g FROM occ WHERE doc_id < 3),
        | cov AS (SELECT DISTINCT o.doc_id, o.pos + i AS wpos
        |         FROM occ o JOIN ev USING (g),
        |              (SELECT unnest(range(0, 6)) AS i)
        |         WHERE o.doc_id >= 3),
        | wd AS (SELECT doc_id, t.wpos AS wpos, t.w AS w FROM (
        |     SELECT doc_id, unnest(list_transform(range(1, len(s) + 1), i ->
        |         struct_pack(wpos := i - 1, w := s[i]))) AS t
        |     FROM w WHERE doc_id >= 3))
        |SELECT wd.doc_id,
        |       CAST(count(*) AS BIGINT) AS n_words,
        |       CAST(sum(CASE WHEN cov.wpos IS NULL THEN 0 ELSE 1 END)
        |            AS BIGINT) AS n_cut,
        |       coalesce(string_agg(CASE WHEN cov.wpos IS NULL THEN wd.w END,
        |                           ' ' ORDER BY wd.wpos), '') AS clean_text
        |FROM wd LEFT JOIN cov ON cov.doc_id = wd.doc_id
        |                      AND cov.wpos = wd.wpos
        |GROUP BY wd.doc_id""".stripMargin),

    /** Stutter collapse ([[graft.operators.TextOps.collapseRepeats]]):
      * immediate word-repetition runs reduced to one occurrence — the
      * REWRITE twin of q45's repetition score, for OCR/ASR stutter and
      * degenerate LM loops. One indexed-lambda pass, any run length,
      * survivor order stable; oracle replays the keep rule over a
      * 1-based index range. */
    QueryDef("q226_collapse_repeats", (s, dir) =>
      TextOps.collapseRepeats(t(s, dir, "documents")),
      // the keep rule (word 1, or word != its predecessor) replayed
      // over a 1-based index range
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS s FROM documents),
        | k AS (SELECT doc_id, len(s) AS n,
        |    list_filter(list_transform(range(1, len(s) + 1), i ->
        |      CASE WHEN i = 1 OR s[i] <> s[i - 1] THEN s[i] END),
        |      x -> x IS NOT NULL) AS kept
        |  FROM w)
        |SELECT doc_id,
        |       CAST(n AS BIGINT) AS n_words,
        |       CAST(n - len(kept) AS BIGINT) AS n_collapsed,
        |       array_to_string(kept, ' ') AS clean_text
        |FROM k""".stripMargin),

    /** Streaming-shaped hourly rollup of the events table (batch-equivalent
      * of the windowed streaming agg; see StreamingAggSpec for the
      * readStream form). */
    QueryDef("q33_stream_hourly", (s, dir) =>
      t(s, dir, "events")
        // date_trunc yields session-TZ timestamps even for NTZ input; cast
        // back so the parquet stays naive-micros like DuckDB's
        .groupBy(date_trunc("hour", col("ts")).cast("timestamp_ntz").as("h"),
          col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value")),
      """SELECT date_trunc('hour', ts) AS h, event_type, count(*) AS n,
                round(sum(value), 2) AS sum_value
         FROM events GROUP BY 1, 2"""),
  )

  /** The √N-kmeans learned clustering shared by q216/q217:
    * (embeddings, centroid table, cluster count, assignment, corpus
    * size). Modular seeds 6-dp rounded IN Spark (the proven q171
    * parity path), dense-numbered on the driver — ≤√N rows, the same
    * bound kmeansFrom itself collects; no window needed. */
  private def sqrtKmeansParts(s: SparkSession, dir: String)
      : (DataFrame, DataFrame, Long, DataFrame, Long) = {
    val e = t(s, dir, "embeddings")
    val n = e.count()
    val step = math.ceil(math.sqrt(n.toDouble)).toLong
    val seedRows = e.filter(col("vec_id") % step === 0)
      .select(col("vec_id"),
        transform(col("embedding").cast("array<double>"),
          x => round(x, 6)).as("c"))
      .orderBy(col("vec_id")).collect()
    import s.implicits._
    val seeds = seedRows.zipWithIndex
      .map { case (r, i) => (i.toLong, r.getSeq[Double](1)) }.toSeq
      .toDF("cluster", "centroid")
    val cent = Clustering.kmeansFrom(e, seeds, rounds = 1).localCheckpoint(false)
    val asg = Clustering.assignUnder(e, cent).localCheckpoint()
    (e, cent, cent.count(), asg, n)
  }

  /** One learned-IVF index build per (JVM, sf dir): q217 models "build
    * at ingest, probe per query", and re-CONSTRUCTING the query (Bench
    * passes, Verify) must reuse the session's index
    * rather than leak a fresh /tmp parquet copy per construction (r12
    * ADVICE). The cached dir is swept by a JVM shutdown hook. Bench
    * note: pass 1 pays the k-means + partitioned write; later passes
    * measure the probe path — the production read shape. */
  private val learnedIvfDirs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def learnedIvfIndex(labeled: => DataFrame, dir: String): String =
    learnedIvfDirs.computeIfAbsent(dir, _ => {
      val d = java.nio.file.Files.createTempDirectory("graft-ivf-learned")
      sys.addShutdownHook(org.apache.commons.io.FileUtils.deleteQuietly(d.toFile))
      Similarity.writeIvfIndex(labeled, d.toString)
      d.toString
    })

  /** The q205 fused-recall replay (q200's brute-leg hybrid ∩ the
    * indexed-leg hybrid at k=10, shared BM25 leg) parameterized by the
    * IVF leg's `nprobe` — shared by the shipped nprobe-2 audit (q205,
    * the q203 default's honest divergence) and the tuned config the
    * round-11 sweep picked (q209, `emitNprobe` adds the config column
    * so the row is self-describing). */
  private def hybridRecallOracle(nprobe: Int, emitNprobe: Boolean): String = {
    val npCol =
      if (emitNprobe) s"\n        |       CAST($nprobe AS BIGINT) AS nprobe,"
      else ""
    s"""WITH $bm25RankCtes,
        | e AS (SELECT label, vec_id, CAST(embedding AS DOUBLE[]) AS v
        |       FROM embeddings),
        | q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id = 0),
        | sb AS (SELECT e.vec_id, round(list_cosine_similarity(q.qv, e.v), 6) AS sim
        |        FROM e, q),
        | crb AS (SELECT vec_id AS doc_id, CAST(rn AS BIGINT) AS cos_rank FROM (
        |           SELECT vec_id,
        |                  ROW_NUMBER() OVER (ORDER BY sim DESC, vec_id) AS rn
        |           FROM sb)
        |         WHERE rn <= 20),
        | $hybridCentroidCte,
        | ${hybridProbesCte(nprobe)},
        | si AS (SELECT e.vec_id, round(list_cosine_similarity(p.qv, e.v), 6) AS sim
        |        FROM probes p JOIN e ON e.label = p.probe_label),
        | cri AS (SELECT vec_id AS doc_id, CAST(rn AS BIGINT) AS cos_rank FROM (
        |           SELECT vec_id,
        |                  ROW_NUMBER() OVER (ORDER BY sim DESC, vec_id) AS rn
        |           FROM si)
        |         WHERE rn <= 20),
        | fb AS (SELECT coalesce(br.doc_id, crb.doc_id) AS doc_id
        |        FROM br FULL OUTER JOIN crb ON br.doc_id = crb.doc_id
        |        ORDER BY round(coalesce(1.0 / (60 + bm25_rank), 0)
        |                     + coalesce(1.0 / (60 + cos_rank), 0), 6) DESC,
        |                 coalesce(br.doc_id, crb.doc_id) LIMIT 10),
        | fi AS (SELECT coalesce(br.doc_id, cri.doc_id) AS doc_id
        |        FROM br FULL OUTER JOIN cri ON br.doc_id = cri.doc_id
        |        ORDER BY round(coalesce(1.0 / (60 + bm25_rank), 0)
        |                     + coalesce(1.0 / (60 + cos_rank), 0), 6) DESC,
        |                 coalesce(br.doc_id, cri.doc_id) LIMIT 10)
        |SELECT CAST(10 AS BIGINT) AS k,$npCol
        |       CAST(count(*) AS BIGINT) AS n_common,
        |       CAST(count(*) * 10000 // 10 AS BIGINT) AS recall_bp
        |FROM fb JOIN fi USING (doc_id)""".stripMargin
  }

  /** Gradient steps / learning rate the q189 oracle replays — must
    * match the `q189_quality_model` build. */
  private lazy val LrIters = 5
  private lazy val LrRate = "2.0"

  /** σ(round(w·x, 6)) rounded 6 dp, reading weights from CTE alias `w`
    * and features from alias `f` — the exact expression
    * [[graft.operators.QualityModel.prob]] evaluates. */
  private lazy val lrSigmoid: String =
    """round(1.0 / (1.0 + exp(-round(
      |                    w.w0*f.x0 + w.w1*f.x1 + w.w2*f.x2
      |                    + w.w3*f.x3 + w.w4*f.x4 + w.w5*f.x5, 6))), 6)"""
      .stripMargin

  /** One training round: p$i (per-row sigmoid under w$prev), g$i
    * (6-dp mean gradient components), w$i (6-dp weight update). */
  private def lrRound(i: Int): String = {
    val prev = s"w${i - 1}"
    s"""         p$i AS (SELECT f.*, $lrSigmoid AS p
       |                FROM sfeats f, $prev w),
       |         g$i AS (SELECT round(avg((p-y)*x0), 6) AS g0, round(avg((p-y)*x1), 6) AS g1,
       |                       round(avg((p-y)*x2), 6) AS g2, round(avg((p-y)*x3), 6) AS g3,
       |                       round(avg((p-y)*x4), 6) AS g4, round(avg((p-y)*x5), 6) AS g5
       |                FROM p$i),
       |         w$i AS (SELECT round(w.w0 - $LrRate*g.g0, 6) AS w0, round(w.w1 - $LrRate*g.g1, 6) AS w1,
       |                       round(w.w2 - $LrRate*g.g2, 6) AS w2, round(w.w3 - $LrRate*g.g3, 6) AS w3,
       |                       round(w.w4 - $LrRate*g.g4, 6) AS w4, round(w.w5 - $LrRate*g.g5, 6) AS w5
       |                FROM $prev w, g$i g),""".stripMargin
  }

  private def lrOracleCtes: String =
    s"""WITH base AS (
       |           SELECT doc_id,
       |                  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
       |                  CAST(floor(CAST(length(text) - (len(string_split(text, ' ')) - 1) AS DOUBLE)
       |                        / len(string_split(text, ' ')) * 10000) AS BIGINT) AS avg_word_len_bp,
       |                  CAST(floor(CAST(len(regexp_extract_all(text, '([.,!?;:''"()\\[\\]{}-])', 1)) AS DOUBLE)
       |                        / length(text) * 10000) AS BIGINT) AS punct_ratio_bp,
       |                  CAST(floor(CAST(len(regexp_extract_all(text, '\\b(the|a|of|and|is|to|in)\\b')) AS DOUBLE)
       |                        / len(string_split(text, ' ')) * 10000) AS BIGINT) AS stopword_ratio_bp,
       |                  CAST(len(list_distinct(regexp_extract_all(text, '\\b(the|a|of|and|is|to|in)\\b'))) AS BIGINT) AS n_stop_forms
       |           FROM documents),
       |         wf AS (SELECT doc_id, max(c) AS max_tf
       |                FROM (SELECT doc_id, w, count(*) AS c
       |                      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
       |                            FROM documents)
       |                      GROUP BY doc_id, w)
       |                GROUP BY doc_id),
       |         feats AS (
       |           SELECT doc_id,
       |                  CASE WHEN (n_words BETWEEN 50 AND 100000)
       |                        AND (avg_word_len_bp BETWEEN 30000 AND 100000)
       |                        AND n_stop_forms >= 2
       |                        AND floor(CAST(max_tf AS DOUBLE) / n_words * 10000) <= 800
       |                       THEN 1.0 ELSE 0.0 END AS y,
       |                  1.0 AS x0,
       |                  round(ln(n_words), 6) AS x1,
       |                  CAST(stopword_ratio_bp AS DOUBLE) / 10000.0 AS x2,
       |                  CAST(punct_ratio_bp AS DOUBLE) / 10000.0 AS x3,
       |                  CAST(avg_word_len_bp AS DOUBLE) / 10000.0 AS x4,
       |                  CAST(floor(CAST(max_tf AS DOUBLE) / n_words * 10000) AS BIGINT)
       |                    / 10000.0 AS x5
       |           FROM base JOIN wf USING (doc_id)),
       |         st AS (SELECT round(avg(x1), 6) AS m1, round(stddev_pop(x1), 6) AS s1,
       |                       round(avg(x2), 6) AS m2, round(stddev_pop(x2), 6) AS s2,
       |                       round(avg(x3), 6) AS m3, round(stddev_pop(x3), 6) AS s3,
       |                       round(avg(x4), 6) AS m4, round(stddev_pop(x4), 6) AS s4,
       |                       round(avg(x5), 6) AS m5, round(stddev_pop(x5), 6) AS s5
       |                FROM feats),
       |         sfeats AS (
       |           SELECT f.doc_id, f.y, f.x0,
       |                  round((f.x1 - t.m1) / (CASE WHEN t.s1 = 0 THEN 1.0 ELSE t.s1 END), 6) AS x1,
       |                  round((f.x2 - t.m2) / (CASE WHEN t.s2 = 0 THEN 1.0 ELSE t.s2 END), 6) AS x2,
       |                  round((f.x3 - t.m3) / (CASE WHEN t.s3 = 0 THEN 1.0 ELSE t.s3 END), 6) AS x3,
       |                  round((f.x4 - t.m4) / (CASE WHEN t.s4 = 0 THEN 1.0 ELSE t.s4 END), 6) AS x4,
       |                  round((f.x5 - t.m5) / (CASE WHEN t.s5 = 0 THEN 1.0 ELSE t.s5 END), 6) AS x5
       |           FROM feats f, st t),
       |         w0 AS (SELECT 0.0 AS w0, 0.0 AS w1, 0.0 AS w2,
       |                       0.0 AS w3, 0.0 AS w4, 0.0 AS w5),
       |${(1 to LrIters).map(lrRound).mkString("\n")}
       |         fin AS (SELECT * FROM w$LrIters)""".stripMargin

  private def lrOracle: String =
    s"""$lrOracleCtes
       |         SELECT f.doc_id, CAST(f.y AS BIGINT) AS y,
       |                CAST(floor($lrSigmoid * 10000) AS BIGINT) AS score_bp,
       |                $lrSigmoid >= 0.5 AS pred
       |         FROM sfeats f, fin w""".stripMargin
}
