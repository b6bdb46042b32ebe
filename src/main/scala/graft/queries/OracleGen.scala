package graft.queries

import graft.expr.MinHashConsts

/** Generated DuckDB oracle SQL for the sketch-based dedup/ANN queries.
  *
  * The sketches were deliberately built from md5 + int64 arithmetic (see
  * graft.expr.Sketches, SimilaritySearch.planeWeight) precisely so these
  * oracles can replicate them value-for-value: the per-slot minhash
  * constants, the simhash bit votes, and the LSH plane weights are the
  * same numbers on both engines, so the driver's hash compare is exact —
  * not a rows-only smoke check.
  */
object OracleGen {

  /** Word-trigram shingle CTEs shared by the ngram/minhash oracles —
    * mirrors SimilarityFunctions.wordShingles (distinct, chr(1)-joined so
    * token boundaries stay significant — identical to wordShingles'
    * U+0001 separator and ShingleHashes — whole-text fallback when
    * fewer than n tokens) followed by the 40-bit md5 shingle hashing (set
    * semantics survive hashing; both engines apply the identical hash, so
    * even collisions replicate).
    */
  private val Shingles =
    raw"""t AS (SELECT doc_id, string_split(lower(trim(regexp_replace(text,'\s+',' '))),' ') t FROM documents),
         sh AS (SELECT doc_id, list_distinct(CASE WHEN len(t) < 3 THEN [list_aggregate(t, 'string_agg', chr(1))]
           ELSE [t[i]||chr(1)||t[i+1]||chr(1)||t[i+2] for i in range(1, len(t)-1)] END) s FROM t),
         hsh AS (SELECT doc_id, list_distinct(list_transform(s, x -> ('0x'||substr(md5(x),1,10))::BIGINT)) hs FROM sh)"""

  private def jac(a: String, b: String) =
    s"len(list_intersect($a,$b))::DOUBLE / len(list_distinct($a||$b))"

  /** Complete-pairs ngram Jaccard with the df cap: candidates share ≥1
    * hashed shingle occurring in ≤ maxDf docs; Jaccard is the exact
    * hashed-set Jaccard (identical to Dedup.ngramJaccard's count-based
    * computation).
    */
  def ngramJaccard(maxDf: Int, threshold: Double): String =
    raw"""WITH $Shingles,
         ex AS (SELECT doc_id, unnest(hs) h FROM hsh),
         hot AS (SELECT h FROM ex GROUP BY h HAVING count(*) > $maxDf),
         cold AS (SELECT doc_id, h FROM ex WHERE h NOT IN (SELECT h FROM hot)),
         cand AS (SELECT DISTINCT x.doc_id id_a, y.doc_id id_b
           FROM cold x JOIN cold y ON x.h = y.h AND x.doc_id < y.doc_id)
         SELECT id_a, id_b, ${jac("a.hs", "b.hs")} AS jaccard
         FROM cand JOIN hsh a ON id_a = a.doc_id JOIN hsh b ON id_b = b.doc_id
         WHERE ${jac("a.hs", "b.hs")} >= $threshold"""

  /** Per-slot minhash signature exprs + ≥1-band-agrees condition — shared
    * by [[minhashLsh]] and [[incrementalMinhash]] so the two oracles'
    * mixing constants and band-slot indexing cannot desynchronize.
    */
  private def sigExprs(k: Int): String =
    (0 until k).map { i =>
      s"list_min(list_transform(h, v -> (${MinHashConsts.a(i)}*v + ${MinHashConsts.b(i)}) % ${MinHashConsts.M}))"
    }.mkString("[", ", ", "]")

  private def bandCond(k: Int, bands: Int): String = {
    val r = k / bands
    (0 until bands).map { b =>
      (0 until r).map(j => s"x.sig[${b * r + j + 1}] = y.sig[${b * r + j + 1}]")
        .mkString("(", " AND ", ")")
    }.mkString(" OR ")
  }

  /** Banded minhash-LSH: per-slot mins with the exact MinHashConsts
    * constants; candidates agree on ≥1 band (raw slice equality, same as
    * the Spark array-equality band join); verified on true Jaccard.
    */
  def minhashLsh(k: Int, bands: Int, threshold: Double): String = {
    val sigExprs = this.sigExprs(k)
    val bandCond = this.bandCond(k, bands)
    raw"""WITH $Shingles,
         sig AS (SELECT doc_id, hs, $sigExprs sig FROM (SELECT doc_id, hs, hs h FROM hsh) z),
         cand AS (SELECT x.doc_id id_a, y.doc_id id_b, x.hs sa, y.hs sb
           FROM sig x JOIN sig y ON x.doc_id < y.doc_id AND ($bandCond))
         SELECT id_a, id_b, ${jac("sa", "sb")} AS jaccard
         FROM cand WHERE ${jac("sa", "sb")} >= $threshold"""
  }

  /** Incremental minhash: pairs (batch × history) ∪ (batch × batch,
    * a < b), batch = doc_id % mod == 0 — same signatures/band condition
    * as [[minhashLsh]], restricted to pairs a production daily-ingest
    * dedup would check against a prebuilt history index.
    */
  def incrementalMinhash(k: Int, bands: Int, threshold: Double,
                         mod: Int): String = {
    val sigExprs = this.sigExprs(k)
    val bandCond = this.bandCond(k, bands)
    raw"""WITH $Shingles,
         sig AS (SELECT doc_id, hs, $sigExprs sig FROM (SELECT doc_id, hs, hs h FROM hsh) z),
         bs AS (SELECT * FROM sig WHERE doc_id % $mod = 0),
         hist AS (SELECT * FROM sig WHERE doc_id % $mod != 0),
         cand AS (
           SELECT x.doc_id id_a, y.doc_id id_b, x.hs sa, y.hs sb
             FROM bs x JOIN hist y ON ($bandCond)
           UNION
           SELECT x.doc_id, y.doc_id, x.hs, y.hs
             FROM bs x JOIN bs y ON x.doc_id < y.doc_id AND ($bandCond))
         SELECT id_a, id_b, ${jac("sa", "sb")} AS jaccard
         FROM cand WHERE ${jac("sa", "sb")} >= $threshold"""
  }

  /** SimHash-40 with Manku block candidates and Hamming verification. */
  def simhash(maxHamming: Int, bits: Int = 40): String = {
    // bits/4 md5 hex digits = the engine's Md5Hash40/Md5Hash60 prefix
    require(bits % 4 == 0 && bits <= 60, s"md5-prefix bits: $bits")
    val hexDigits = bits / 4
    val blocks = maxHamming + 1
    val width = bits / blocks
    val mask = (1L << width) - 1
    val shExpr = (0 until bits).map { i =>
      s"(CASE WHEN 2*list_sum(list_transform(h, v -> (v >> $i) & 1)) > len(h) THEN (1::BIGINT << $i) ELSE 0 END)"
    }.mkString(" + ")
    val blockCond = (0 until blocks).map { j =>
      s"((x.sh >> ${j * width}) & $mask) = ((y.sh >> ${j * width}) & $mask)"
    }.mkString(" OR ")
    raw"""WITH t AS (SELECT doc_id, string_split(lower(trim(regexp_replace(text,'\s+',' '))),' ') toks FROM documents),
         hs AS (SELECT doc_id, list_transform(toks, x -> ('0x'||substr(md5(x),1,$hexDigits))::BIGINT) h FROM t),
         simh AS (SELECT doc_id, ($shExpr)::BIGINT sh FROM hs)
         SELECT x.doc_id id_a, y.doc_id id_b, bit_count(xor(x.sh, y.sh))::INT AS hamming
         FROM simh x JOIN simh y ON x.doc_id < y.doc_id AND ($blockCond)
         WHERE bit_count(xor(x.sh, y.sh)) <= $maxHamming"""
  }

  /** Benchmark decontamination: docs with doc_id % mod == 0 are the eval
    * set; every other doc's shingle-set containment in the eval union,
    * with the contaminated flag at `threshold`. Mirrors
    * TrainingPipeline.decontaminate (identical shingle hashing).
    */
  def decontaminate(mod: Int, threshold: Double): String =
    raw"""WITH $Shingles,
         bench AS (SELECT DISTINCT unnest(hs) h FROM hsh WHERE doc_id % $mod = 0),
         ex AS (SELECT doc_id, unnest(hs) h FROM hsh WHERE doc_id % $mod != 0),
         agg AS (SELECT ex.doc_id, count(*)::BIGINT n_shingles,
             sum(CASE WHEN bench.h IS NOT NULL THEN 1 ELSE 0 END)::BIGINT n_overlap
           FROM ex LEFT JOIN bench ON ex.h = bench.h GROUP BY ex.doc_id)
         SELECT doc_id, n_shingles, n_overlap,
           n_overlap::DOUBLE / n_shingles AS containment,
           n_overlap::DOUBLE / n_shingles >= $threshold AS contaminated
         FROM agg"""

  /** Per-benchmark contamination report — replays
    * TrainingPipeline.contaminationReport: bench names from
    * (doc_id div mod) % 3, containment in floor basis points, the
    * flagged test `bp >= threshold·10⁴` (exactly `ov/ns >= threshold`
    * for integer-bp thresholds).
    */
  def contaminationReport(mod: Int, thrBp: Long): String =
    raw"""WITH $Shingles,
         bmap AS (SELECT doc_id, 'bench_' || ((doc_id // $mod) % 3) b
           FROM documents WHERE doc_id % $mod = 0),
         bench AS (SELECT DISTINCT b, unnest(hs) h
           FROM hsh JOIN bmap USING (doc_id)),
         ex AS (SELECT doc_id, unnest(hs) h FROM hsh WHERE doc_id % $mod != 0),
         tot AS (SELECT doc_id, len(hs)::BIGINT ns FROM hsh
           WHERE doc_id % $mod != 0 AND len(hs) > 0),
         ov AS (SELECT ex.doc_id, bench.b, count(*)::BIGINT ov
           FROM ex JOIN bench USING (h) GROUP BY 1, 2),
         per AS (SELECT ov.doc_id, b, ov, ns, (10000 * ov) // ns bp
           FROM ov JOIN tot USING (doc_id)),
         nd AS (SELECT count(*)::BIGINT n FROM tot),
         names AS (SELECT DISTINCT b FROM bmap),
         rep AS (SELECT b,
             count(*)::BIGINT n_docs_overlapping,
             (count(*) FILTER (bp >= $thrBp))::BIGINT n_docs_contaminated,
             max(bp)::BIGINT max_cont_bp,
             sum(ov)::BIGINT total_overlap_shingles
           FROM per GROUP BY 1)
         SELECT names.b AS bench,
           coalesce(n_docs_overlapping, 0)::BIGINT n_docs_overlapping,
           coalesce(n_docs_contaminated, 0)::BIGINT n_docs_contaminated,
           coalesce(max_cont_bp, 0)::BIGINT max_cont_bp,
           coalesce(total_overlap_shingles, 0)::BIGINT total_overlap_shingles,
           (SELECT n FROM nd) n_docs_checked,
           (CASE WHEN (SELECT n FROM nd) = 0 THEN 0
             ELSE (10000 * coalesce(n_docs_contaminated, 0))
               // (SELECT n FROM nd) END)::BIGINT contaminated_bp
         FROM names LEFT JOIN rep USING (b)"""

  /** Connected-component CTE chain over near-dup pairs (recursive reach →
    * min reachable id per node) — shared by dupClusters and dedupCorpus.
    */
  private def ccCtes(pairsSql: String): String =
    raw"""pairs AS ($pairsSql),
         edges AS (SELECT id_a src, id_b dst FROM pairs
                   UNION SELECT id_b, id_a FROM pairs),
         nodes AS (SELECT DISTINCT src id FROM edges),
         r AS (WITH RECURSIVE reach(id, lab) AS (
             SELECT id, id FROM nodes
             UNION
             SELECT e.src, reach.lab FROM edges e JOIN reach ON e.dst = reach.id)
           SELECT id, min(lab) clu FROM reach GROUP BY id)"""

  /** Connected components over near-dup pairs via a recursive CTE:
    * min reachable id == the min-label fixpoint the Spark iteration
    * converges to.
    */
  def dupClusters(pairsSql: String): String =
    raw"""WITH ${ccCtes(pairsSql)}
         SELECT id doc_id, clu AS "cluster",
           count(*) OVER (PARTITION BY clu) cluster_size
         FROM r"""

  /** The deduplicated corpus: every document except clustered
    * non-representatives (cluster members whose id is not the component
    * min). Mirrors the Spark-side minhash → components → anti-join
    * composition.
    */
  def dedupCorpus(pairsSql: String): String =
    raw"""WITH ${ccCtes(pairsSql)}
         SELECT d.doc_id, d.lang, d.source FROM documents d
         WHERE d.doc_id NOT IN (SELECT id FROM r WHERE id != clu)"""

  /** IVF ANN: deterministic sampled coarse quantizer (centroids = vec_id
    * < nCentroids), cosine assignment with lowest-id tie-break, top-nprobe
    * probing with TopKPerGroup's (score DESC, id DESC) order, exact cosine
    * ranking among probed lists.
    */
  def annIvf(nCentroids: Int, nprobe: Int, k: Int): String =
    raw"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] e FROM embeddings),
         cent AS (SELECT vec_id cid, e ce FROM v WHERE vec_id < $nCentroids),
         cosd AS (SELECT v.vec_id, cid,
             list_dot_product(e, ce) / (sqrt(list_dot_product(e, e)) * sqrt(list_dot_product(ce, ce))) c
           FROM v CROSS JOIN cent),
         assign AS (SELECT vec_id, cid clu FROM (
             SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY c DESC, cid ASC) rn
             FROM cosd) z WHERE rn = 1),
         probes AS (SELECT vec_id qid, cid clu FROM (
             SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY c DESC, cid DESC) rn
             FROM cosd WHERE vec_id < 5) z WHERE rn <= $nprobe),
         cand AS (SELECT qid, a.vec_id nid FROM probes p
           JOIN assign a ON p.clu = a.clu
           WHERE a.vec_id != qid),
         scored AS (SELECT qid, nid,
             list_dot_product(nv.e, qv.e) / (sqrt(list_dot_product(nv.e, nv.e)) * sqrt(list_dot_product(qv.e, qv.e))) c
           FROM cand JOIN v nv ON nid = nv.vec_id JOIN v qv ON qid = qv.vec_id)
         SELECT qid, rank, nid, cosine FROM (
           SELECT qid, nid, c cosine,
             row_number() OVER (PARTITION BY qid ORDER BY c DESC, nid DESC) rank
           FROM scored) t WHERE rank <= $k"""

  /** Product-quantization ADC ANN: m independent [[graft.ops.KMeans]]
    * Lloyd replays (one prefixed [[graft.ops.KMeans.oracleChain]] per
    * vector slice), codes = the per-subspace `afin` assignments, per-query
    * distance tables from the final centroid CTEs, ADC = the m-way
    * table-lookup sum, top-k by (adist ASC, nid ASC) — the ascending
    * bounded-heap order. Integer-exact end to end, so even the APPROXIMATE
    * ranking hash-gates.
    */
  /** [[annPq]]'s shared WITH-body through CTE `scored` (qid, nid, adist):
    * the m prefixed Lloyd chains, per-vector codes, per-query distance
    * tables, and the ADC sum. [[annPq]]/[[annPqRecall]] append their own
    * final CTEs/SELECT.
    */
  private def pqCore(dim: Int, m: Int, ksub: Int, iters: Int,
                     quantShift: Int, fpShift: Int): String = {
    val sub = dim / m
    val fp = 1L << fpShift
    val chains = (0 until m).map { j =>
      graft.ops.KMeans.oracleChain("embeddings", "vec_id",
        s"embedding[${j * sub + 1}:${(j + 1) * sub}]", ksub, iters,
        quantShift, fpShift, prefix = s"p${j}_")
    }
    val codesJoins = (1 until m)
      .map(j => s"JOIN p${j}_afin ON p0_afin.vec_id = p${j}_afin.vec_id")
      .mkString(" ")
    val dts = (0 until m).map { j =>
      s"""dt$j AS (
         |  SELECT p.vec_id qid, c.c,
         |    sum((p.qv*$fp - c.mu)*(p.qv*$fp - c.mu))::BIGINT d
         |  FROM p${j}_pts p JOIN p${j}_cent$iters c ON p.pos = c.pos
         |  WHERE p.vec_id < 5 GROUP BY 1, 2)""".stripMargin
    }
    val dtJoins = (1 until m)
      .map(j => s"JOIN dt$j ON dt$j.c = cd.c$j AND dt$j.qid = dt0.qid")
      .mkString("\n           ")
    s"""${chains.head},
       |${chains.tail.map(_.stripPrefix("WITH ")).mkString(",\n")},
       |codes AS (
       |  SELECT p0_afin.vec_id,
       |    ${(0 until m).map(j => s"p${j}_afin.c c$j").mkString(", ")}
       |  FROM p0_afin $codesJoins),
       |${dts.mkString(",\n")},
       |scored AS (
       |  SELECT dt0.qid, cd.vec_id nid,
       |    (${(0 until m).map(j => s"dt$j.d").mkString(" + ")})::BIGINT adist
       |  FROM codes cd
       |  JOIN dt0 ON dt0.c = cd.c0
       |           $dtJoins
       |  WHERE cd.vec_id != dt0.qid)""".stripMargin
  }

  def annPq(dim: Int, m: Int, ksub: Int, iters: Int, k: Int,
            quantShift: Int = 6, fpShift: Int = 10): String =
    s"""${pqCore(dim, m, ksub, iters, quantShift, fpShift)}
       |SELECT qid, "rank", adist, nid FROM (
       |  SELECT qid, nid, adist,
       |    row_number() OVER (PARTITION BY qid ORDER BY adist ASC, nid ASC) "rank"
       |  FROM scored) t WHERE "rank" <= $k""".stripMargin

  /** PQ recall@k vs the exact quantized-L2 brute force — both rankings in
    * the same integer domain, overlap counted per query.
    */
  def annPqRecall(dim: Int, m: Int, ksub: Int, iters: Int, k: Int,
                  quantShift: Int = 6, fpShift: Int = 10): String = {
    val scale = 1L << quantShift
    s"""${pqCore(dim, m, ksub, iters, quantShift, fpShift)},
       |aptop AS (
       |  SELECT qid, nid FROM (
       |    SELECT qid, nid,
       |      row_number() OVER (PARTITION BY qid ORDER BY adist ASC, nid ASC) rn
       |    FROM scored) z WHERE rn <= $k),
       |fpts AS (
       |  SELECT vec_id, generate_subscripts(q, 1) pos, unnest(q) qv FROM (
       |    SELECT vec_id,
       |      list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)*$scale) AS BIGINT)) q
       |    FROM embeddings)),
       |exd AS (
       |  SELECT a.vec_id qid, b.vec_id nid,
       |    sum((a.qv - b.qv)*(a.qv - b.qv))::BIGINT d
       |  FROM fpts a JOIN fpts b ON a.pos = b.pos
       |  WHERE a.vec_id < 5 AND b.vec_id != a.vec_id GROUP BY 1, 2),
       |extop AS (
       |  SELECT qid, nid FROM (
       |    SELECT qid, nid, row_number() OVER (PARTITION BY qid ORDER BY d, nid) rn
       |    FROM exd) z WHERE rn <= $k)
       |SELECT q.qid, coalesce(h.hits, 0)::BIGINT hits, $k::BIGINT k
       |FROM (SELECT DISTINCT qid FROM extop) q
       |LEFT JOIN (SELECT qid, count(*) hits FROM extop JOIN aptop USING (qid, nid)
       |  GROUP BY 1) h USING (qid)""".stripMargin
  }

  /** IVF-PQ: [[annPq]]'s m subspace chains PLUS a coarse full-dim Lloyd
    * chain (prefix `cv_`); queries rank coarse centroids by the same
    * fixed-point metric ((d, c) order = the probe tie-break), candidates
    * are restricted to rows whose coarse assignment is probed, then ADC as
    * in annPq.
    */
  def annIvfPq(dim: Int, m: Int, ksub: Int, iters: Int, nlist: Int,
               nprobe: Int, k: Int, quantShift: Int = 6,
               fpShift: Int = 10): String = {
    val sub = dim / m
    val fp = 1L << fpShift
    val coarse = graft.ops.KMeans.oracleChain("embeddings", "vec_id",
      "embedding", nlist, iters, quantShift, fpShift, prefix = "cv_")
    val chains = (0 until m).map { j =>
      graft.ops.KMeans.oracleChain("embeddings", "vec_id",
        s"embedding[${j * sub + 1}:${(j + 1) * sub}]", ksub, iters,
        quantShift, fpShift, prefix = s"p${j}_")
    }
    val codesJoins = (1 until m)
      .map(j => s"JOIN p${j}_afin ON p0_afin.vec_id = p${j}_afin.vec_id")
      .mkString(" ")
    val dts = (0 until m).map { j =>
      s"""dt$j AS (
         |  SELECT p.vec_id qid, c.c,
         |    sum((p.qv*$fp - c.mu)*(p.qv*$fp - c.mu))::BIGINT d
         |  FROM p${j}_pts p JOIN p${j}_cent$iters c ON p.pos = c.pos
         |  WHERE p.vec_id < 5 GROUP BY 1, 2)""".stripMargin
    }
    val dtJoins = (1 until m)
      .map(j => s"JOIN dt$j ON dt$j.c = cd.c$j AND dt$j.qid = dt0.qid")
      .mkString("\n           ")
    s"""$coarse,
       |${chains.map(_.stripPrefix("WITH ")).mkString(",\n")},
       |codes AS (
       |  SELECT p0_afin.vec_id,
       |    ${(0 until m).map(j => s"p${j}_afin.c c$j").mkString(", ")}
       |  FROM p0_afin $codesJoins),
       |${dts.mkString(",\n")},
       |cdist AS (
       |  SELECT p.vec_id qid, c.c,
       |    sum((p.qv*$fp - c.mu)*(p.qv*$fp - c.mu)) d
       |  FROM cv_pts p JOIN cv_cent$iters c ON p.pos = c.pos
       |  WHERE p.vec_id < 5 GROUP BY 1, 2),
       |probe AS (
       |  SELECT qid, c FROM (
       |    SELECT qid, c, row_number() OVER (PARTITION BY qid ORDER BY d, c) rn
       |    FROM cdist) z WHERE rn <= $nprobe),
       |scored AS (
       |  SELECT dt0.qid, cd.vec_id nid,
       |    (${(0 until m).map(j => s"dt$j.d").mkString(" + ")})::BIGINT adist
       |  FROM codes cd
       |  JOIN cv_afin ca ON ca.vec_id = cd.vec_id
       |  JOIN dt0 ON dt0.c = cd.c0
       |           $dtJoins
       |  JOIN probe pb ON pb.qid = dt0.qid AND pb.c = ca.c
       |  WHERE cd.vec_id != dt0.qid)
       |SELECT qid, "rank", adist, nid FROM (
       |  SELECT qid, nid, adist,
       |    row_number() OVER (PARTITION BY qid ORDER BY adist ASC, nid ASC) "rank"
       |  FROM scored) t WHERE "rank" <= $k""".stripMargin
  }

  /** Bucketed embedding near-dup: same deterministic sign-LSH planes as
    * annLsh; pairs sharing ≥1 (table, bucket) verified by exact cosine.
    */
  def embeddingCosineLsh(threshold: Double, dim: Int, tables: Int, planes: Int): String =
    raw"""WITH planes AS (
           SELECT t.range t, p.range p,
             list(((('0x'||substr(md5(t.range||','||p.range||','||j.range),1,10))::BIGINT % 2000001)/1000000.0 - 1.0) ORDER BY j.range) pv
           FROM range($tables) t, range($planes) p, range($dim) j GROUP BY 1, 2),
         v AS (SELECT vec_id, embedding::DOUBLE[] e FROM embeddings),
         bk AS (SELECT vec_id, t, sum(CASE WHEN list_dot_product(e, pv) >= 0 THEN (1::BIGINT << p) ELSE 0 END)::BIGINT bucket
           FROM v CROSS JOIN planes GROUP BY 1, 2),
         cand AS (SELECT DISTINCT x.vec_id id_a, y.vec_id id_b
           FROM bk x JOIN bk y ON x.t = y.t AND x.bucket = y.bucket AND x.vec_id < y.vec_id),
         scored AS (SELECT id_a, id_b,
             list_dot_product(a.e, b.e) / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))) cosine
           FROM cand JOIN v a ON id_a = a.vec_id JOIN v b ON id_b = b.vec_id)
         SELECT id_a, id_b, cosine FROM scored WHERE cosine >= $threshold"""

  /** Sign-LSH ANN: plane weights from md5("t,p,j") — identical to
    * SimilaritySearch.planeWeight; bucket = sign bits of sequential
    * dot products (list_dot_product == Spark's ordered fold, so the
    * signs agree exactly); top-k by cosine among bucket-sharing
    * candidates.
    */
  def annLsh(tables: Int, planes: Int, dim: Int, k: Int): String =
    raw"""WITH planes AS (
           SELECT t.range t, p.range p,
             list(((('0x'||substr(md5(t.range||','||p.range||','||j.range),1,10))::BIGINT % 2000001)/1000000.0 - 1.0) ORDER BY j.range) pv
           FROM range($tables) t, range($planes) p, range($dim) j GROUP BY 1, 2),
         v AS (SELECT vec_id, embedding::DOUBLE[] e FROM embeddings),
         bk AS (SELECT vec_id, t, sum(CASE WHEN list_dot_product(e, pv) >= 0 THEN (1::BIGINT << p) ELSE 0 END)::BIGINT bucket
           FROM v CROSS JOIN planes GROUP BY 1, 2),
         cand AS (SELECT DISTINCT qb.vec_id qid, cb.vec_id nid
           FROM bk cb JOIN bk qb ON cb.t = qb.t AND cb.bucket = qb.bucket
           WHERE qb.vec_id < 5 AND cb.vec_id != qb.vec_id),
         scored AS (SELECT qid, nid,
             list_dot_product(cv.e, qv.e) / (sqrt(list_dot_product(cv.e, cv.e)) * sqrt(list_dot_product(qv.e, qv.e))) c
           FROM cand JOIN v cv ON nid = cv.vec_id JOIN v qv ON qid = qv.vec_id)
         SELECT qid, rank, nid, cosine FROM (
           SELECT qid, nid, c cosine,
             row_number() OVER (PARTITION BY qid ORDER BY c DESC, nid DESC) rank
           FROM scored) t WHERE rank <= $k"""
}
