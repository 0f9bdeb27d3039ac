package graft.queries

import graft.Tables
import graft.functions.{vec_cos, vec_dot, vec_hamming, vec_norm, vec_sign_pack}
import graft.operators.VectorSearch
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Vector/embedding operator inventory (the reference's distinctive
  * surface): L2-norm profiling (reference `gbr.py:271-273`), dot-product
  * top-k retrieval (reference `README.md:73-75`), per-dimension moments
  * (reference `gbr.py:511-512`), pairwise cosine similarity (reference
  * `gbr.py:527-539`) and k-NN. All scoring goes through the codegen'd
  * kernels in [[graft.functions]].
  *
  * Scale notes: top-k is planned as `TakeOrderedAndProject` (per-partition
  * heaps, no shuffle of the embedding column); k-NN broadcasts the query
  * side; at 100 TB the same plans hold because the big side never shuffles.
  */
object VectorQueries {

  /** DuckDB-side dot product with the same double-precision sequential
    * accumulation as [[graft.functions.DotProduct]].
    */
  private def sqlDot(a: String, b: String): String =
    s"list_sum(list_transform(list_zip($a, $b), x -> CAST(x[1] AS DOUBLE) * x[2]))"

  private def sqlNormSq(a: String): String =
    s"list_sum(list_transform($a, x -> CAST(x AS DOUBLE) * x))"

  val all: Seq[QueryDef] = Seq(

    // ---- L2 norm profile per label (gbr.py:271-272 norm stats) ----
    QueryDef(
      "q25_vec_norm_stats",
      (s, d) => {
        Tables.embeddings(s, d)
          .select(col("label"), vec_norm(col("embedding")).as("nm"))
          .groupBy(col("label"))
          .agg(count(lit(1)).as("n"),
            round(avg(col("nm")), 4).as("avg_norm"),
            round(min(col("nm")), 4).as("min_norm"),
            round(max(col("nm")), 4).as("max_norm"))
          .orderBy(col("label"))
      },
      Some(s"""SELECT label, count(*) AS n,
        round(avg(nm), 4) AS avg_norm,
        round(min(nm), 4) AS min_norm,
        round(max(nm), 4) AS max_norm
        FROM (SELECT label, sqrt(${sqlNormSq("embedding")}) AS nm FROM embeddings) t
        GROUP BY label ORDER BY label""")),

    // ---- the marquee operator: dot-product top-k (README.md:73-75) ----
    QueryDef(
      "q26_vec_topk",
      (s, d) => {
        val e = Tables.embeddings(s, d)
        val q = e.filter(col("vec_id") === 0)
          .select(col("embedding")).head().getSeq[Float](0).toArray
        e.select(col("vec_id"),
            (round(vec_dot(col("embedding"), typedLit(q)), 4) + 0.0).as("score"))
          .orderBy(desc("score"), col("vec_id"))
          .limit(20)
      },
      Some(s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
        SELECT vec_id, round(${sqlDot("e.embedding", "q.qv")}, 4) + 0 AS score
        FROM embeddings e CROSS JOIN q
        ORDER BY score DESC, vec_id LIMIT 20""")),

    // ---- per-dimension moments (gbr.py:511-512), first 8 dims ----
    QueryDef(
      "q27_vec_dim_stats",
      (s, d) => {
        Tables.embeddings(s, d)
          .select(posexplode(col("embedding")).as(Seq("pos", "e")))
          .filter(col("pos") < 8)
          .groupBy((col("pos") + 1).cast("long").as("dim"))
          .agg((round(avg(col("e").cast("double")), 5) + 0.0).as("mean"),
            (round(min(col("e").cast("double")), 5) + 0.0).as("mn"),
            (round(max(col("e").cast("double")), 5) + 0.0).as("mx"))
          .orderBy(col("dim"))
      },
      Some("""SELECT i AS dim, round(avg(CAST(e AS DOUBLE)), 5) + 0 AS mean,
        round(min(CAST(e AS DOUBLE)), 5) + 0 AS mn,
        round(max(CAST(e AS DOUBLE)), 5) + 0 AS mx
        FROM (SELECT generate_subscripts(embedding, 1) AS i, unnest(embedding) AS e
          FROM embeddings) t
        WHERE i <= 8 GROUP BY i ORDER BY i""")),

    // ---- sampled pairwise cosine distribution (gbr.py:527-539) ----
    QueryDef(
      "q28_vec_cosine_pairs",
      (s, d) => {
        val e = Tables.embeddings(s, d).filter(col("vec_id") < 30)
        val a = e.select(col("vec_id").as("id1"), col("embedding").as("e1"))
        val b = e.select(col("vec_id").as("id2"), col("embedding").as("e2"))
        a.join(b, col("id1") < col("id2"))
          .select(col("id1"), col("id2"),
            (round(vec_cos(col("e1"), col("e2")), 4) + 0.0).as("cos"))
          .orderBy(col("id1"), col("id2"))
      },
      Some(s"""SELECT a.vec_id AS id1, b.vec_id AS id2,
        round(${sqlDot("a.embedding", "b.embedding")} /
          (sqrt(${sqlNormSq("a.embedding")}) * sqrt(${sqlNormSq("b.embedding")})), 4) + 0 AS cos
        FROM embeddings a JOIN embeddings b
          ON a.vec_id < 30 AND b.vec_id < 30 AND a.vec_id < b.vec_id
        ORDER BY id1, id2""")),

    // ---- k-NN: top-3 neighbors by dot product for the first 10 vectors ----
    QueryDef(
      "q29_vec_knn",
      (s, d) => {
        val e = Tables.embeddings(s, d)
        val q = e.filter(col("vec_id") < 10)
          .select(col("vec_id").as("qid"), col("embedding").as("qe"))
        val cand = e.select(col("vec_id").as("nid"), col("embedding").as("ne"))
        val scored = broadcast(q).join(cand, col("qid") =!= col("nid"))
          .select(col("qid"), col("nid"),
            (round(vec_dot(col("qe"), col("ne")), 4) + 0.0).as("score"))
        val w = Window.partitionBy(col("qid")).orderBy(desc("score"), col("nid"))
        scored.withColumn("rnk", row_number().over(w))
          .filter(col("rnk") <= 3)
          .select(col("qid"), col("nid"), col("rnk"), col("score"))
          .orderBy(col("qid"), col("rnk"))
      },
      Some(s"""SELECT qid, nid, rnk, score FROM (
        SELECT qid, nid, row_number() OVER (PARTITION BY qid ORDER BY score DESC, nid) AS rnk, score
        FROM (SELECT a.vec_id AS qid, b.vec_id AS nid,
          round(${sqlDot("a.embedding", "b.embedding")}, 4) + 0 AS score
          FROM embeddings a JOIN embeddings b ON a.vec_id < 10 AND b.vec_id <> a.vec_id) t0) t1
        WHERE rnk <= 3 ORDER BY qid, rnk""")),

    // ---- single-pass per-dim moments via MLlib Summarizer (the 100 TB
    //      alternative to the posexplode path of q27) ----
    QueryDef(
      "q44_dim_summary",
      (s, d) => {
        graft.operators.Embedding.perDimensionSummary(
            Tables.embeddings(s, d), "embedding")
          .filter(col("dim") < 8)
          .select((col("dim") + 1).cast("long").as("dim"),
            (round(col("mean"), 5) + 0.0).as("mean"),
            (round(col("min"), 5) + 0.0).as("mn"),
            (round(col("max"), 5) + 0.0).as("mx"))
          .orderBy(col("dim"))
      },
      Some("""SELECT i AS dim, round(avg(CAST(e AS DOUBLE)), 5) + 0 AS mean,
        round(min(CAST(e AS DOUBLE)), 5) + 0 AS mn,
        round(max(CAST(e AS DOUBLE)), 5) + 0 AS mx
        FROM (SELECT generate_subscripts(embedding, 1) AS i, unnest(embedding) AS e
          FROM embeddings) t
        WHERE i <= 8 GROUP BY i ORDER BY i""")),

    // ---- embedding-cosine near-dup via sign-LSH buckets (axis-aligned
    //      planes so the oracle reproduces the bucketing exactly) ----
    QueryDef(
      "q45_embed_near_dup",
      (s, d) => {
        graft.operators.Dedup.embeddingNearDupPairs(
            Tables.embeddings(s, d), "embedding", "vec_id",
            threshold = 0.3, planes = 8)
          .select(col("id1"), col("id2"),
            (round(col("cosine"), 4) + 0.0).as("cosine"))
          .orderBy(col("id1"), col("id2"))
      },
      Some(s"""WITH e AS (
        SELECT vec_id, embedding,
          concat(
            CASE WHEN embedding[1] >= 0 THEN '1' ELSE '0' END,
            CASE WHEN embedding[2] >= 0 THEN '1' ELSE '0' END,
            CASE WHEN embedding[3] >= 0 THEN '1' ELSE '0' END,
            CASE WHEN embedding[4] >= 0 THEN '1' ELSE '0' END,
            CASE WHEN embedding[5] >= 0 THEN '1' ELSE '0' END,
            CASE WHEN embedding[6] >= 0 THEN '1' ELSE '0' END,
            CASE WHEN embedding[7] >= 0 THEN '1' ELSE '0' END,
            CASE WHEN embedding[8] >= 0 THEN '1' ELSE '0' END) AS bucket
        FROM embeddings)
        SELECT id1, id2, round(cos, 4) + 0 AS cosine FROM (
          SELECT a.vec_id AS id1, b.vec_id AS id2,
            ${sqlDot("a.embedding", "b.embedding")} /
              (sqrt(${sqlNormSq("a.embedding")}) * sqrt(${sqlNormSq("b.embedding")})) AS cos
          FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id < b.vec_id) t
        WHERE cos >= 0.3 ORDER BY id1, id2""")),

    // ---- per-dim moments via the typed Aggregator (UDAF surface,
    //      SURVEY §2.12) — third execution path for the same semantics ----
    QueryDef(
      "q48_dim_udaf",
      (s, d) => {
        Tables.embeddings(s, d)
          .agg(udaf(graft.functions.VectorMoments.aggregator)
            .apply(col("embedding")).as("m"))
          .select(explode(col("m")).as("z"))
          .select((col("z.dim") + 1).cast("long").as("dim"),
            (round(col("z.mean"), 5) + 0.0).as("mean"),
            (round(col("z.std"), 4) + 0.0).as("std"))
          .filter(col("dim") <= 8)
          .orderBy(col("dim"))
      },
      Some("""SELECT i AS dim, round(avg(CAST(e AS DOUBLE)), 5) + 0 AS mean,
        round(stddev(CAST(e AS DOUBLE)), 4) + 0 AS std
        FROM (SELECT generate_subscripts(embedding, 1) AS i, unnest(embedding) AS e
          FROM embeddings) t
        WHERE i <= 8 GROUP BY i ORDER BY i""")),

    // ---- PCA(2) projection (gbr.py:449-450). Signs are canonicalized in
    //      Embedding.pcaProject (largest-|loading| element positive), which
    //      makes the projection deterministic and SQL-oracle-able. The
    //      oracle reproduces MLlib's exact semantics in DuckDB: sample
    //      covariance, top-2 eigenvectors via power iteration (1500 steps —
    //      residual (l2/l1)^1500 ~ 1e-8 on this spectrum, far below the
    //      4-decimal rounding) with deflation for PC2, and an UNCENTERED
    //      projection (MLlib's PCA transform does not subtract the mean).
    //      EmbeddingSpec asserts the math (variance ordering, distance
    //      preservation, canonical orientation) ----
    QueryDef(
      "q46_pca_project",
      (s, d) => {
        graft.operators.Embedding.pcaProject(
            Tables.embeddings(s, d), "embedding", k = 2)
          .select(col("vec_id"), col("label"),
            (round(col("pc").getItem(0), 4) + 0.0).as("pc1"),
            (round(col("pc").getItem(1), 4) + 0.0).as("pc2"))
          .orderBy(col("vec_id"))
      },
      Some("""
        WITH RECURSIVE
        ev AS MATERIALIZED (
          SELECT vec_id, generate_subscripts(embedding, 1) AS i,
                 CAST(unnest(embedding) AS DOUBLE) AS x
          FROM embeddings),
        nn AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS n FROM embeddings),
        mu AS MATERIALIZED (SELECT i, avg(x) AS m FROM ev GROUP BY i),
        cov AS MATERIALIZED (
          SELECT xx.i, xx.j,
                 (sxx - (SELECT n FROM nn) * ma.m * mb.m) / ((SELECT n FROM nn) - 1) AS c
          FROM (SELECT a.i AS i, b.i AS j, sum(a.x * b.x) AS sxx
                FROM ev a JOIN ev b ON a.vec_id = b.vec_id GROUP BY a.i, b.i) xx
          JOIN mu ma ON ma.i = xx.i JOIN mu mb ON mb.i = xx.j),
        p1(it, i, v) AS (
          SELECT 0, i, 1.0 / sqrt(64.0) FROM mu
          UNION ALL
          SELECT it + 1, i, w / sqrt(sum(w * w) OVER ()) FROM (
            SELECT p.it AS it, c.i AS i, sum(c.c * p.v) AS w
            FROM cov c JOIN p1 p ON c.j = p.i
            WHERE p.it < 1500
            GROUP BY p.it, c.i) t
        ),
        v1 AS MATERIALIZED (SELECT i, v FROM p1 WHERE it = 1500),
        s1 AS MATERIALIZED (
          SELECT CASE WHEN v < 0 THEN -1.0 ELSE 1.0 END AS s
          FROM v1 ORDER BY abs(v) DESC, i LIMIT 1),
        l1 AS MATERIALIZED (
          SELECT sum(a.v * c.c * b.v) AS lam
          FROM v1 a JOIN cov c ON c.i = a.i JOIN v1 b ON c.j = b.i),
        cov2 AS MATERIALIZED (
          SELECT c.i, c.j, c.c - (SELECT lam FROM l1) * a.v * b.v AS c
          FROM cov c JOIN v1 a ON a.i = c.i JOIN v1 b ON b.i = c.j),
        p2(it, i, v) AS (
          SELECT 0, i, 1.0 / sqrt(64.0) FROM mu
          UNION ALL
          SELECT it + 1, i, w / sqrt(sum(w * w) OVER ()) FROM (
            SELECT p.it AS it, c.i AS i, sum(c.c * p.v) AS w
            FROM cov2 c JOIN p2 p ON c.j = p.i
            WHERE p.it < 1500
            GROUP BY p.it, c.i) t
        ),
        v2 AS MATERIALIZED (SELECT i, v FROM p2 WHERE it = 1500),
        s2 AS MATERIALIZED (
          SELECT CASE WHEN v < 0 THEN -1.0 ELSE 1.0 END AS s
          FROM v2 ORDER BY abs(v) DESC, i LIMIT 1)
        SELECT ev.vec_id, any_value(e.label) AS label,
          round(sum(ev.x * v1.v) * (SELECT s FROM s1), 4) + 0 AS pc1,
          round(sum(ev.x * v2.v) * (SELECT s FROM s2), 4) + 0 AS pc2
        FROM ev JOIN embeddings e ON e.vec_id = ev.vec_id
        JOIN v1 ON v1.i = ev.i JOIN v2 ON v2.i = ev.i
        GROUP BY ev.vec_id ORDER BY ev.vec_id""")),

    // ---- int8 scalar quantization: reconstruction-error envelope over
    //      the corpus (operators.Quantize — 4× scan-byte cut for ANN
    //      candidate generation; re-rank reads floats for the shortlist) ----
    QueryDef(
      "q66_quantize_error",
      (s, d) => {
        graft.operators.Quantize
          .reconstructionError(Tables.embeddings(s, d), "embedding")
          .agg(count(lit(1)).as("n"),
            round(avg(col("mean_err")), 9).as("avg_mean_err"),
            round(max(col("max_err")), 9).as("worst_err"),
            round(avg((col("__qmax") - col("__qmin")) / 510.0), 9)
              .as("avg_err_bound"))
      },
      Some("""WITH q AS (SELECT vec_id,
          CAST(list_min(embedding) AS DOUBLE) AS mn,
          CAST(list_max(embedding) AS DOUBLE) AS mx, embedding
          FROM embeddings),
        e AS (SELECT mn, mx,
          list_transform(embedding, v -> abs(CAST(v AS DOUBLE) -
            CAST(CAST(CASE WHEN mx = mn THEN mn
              ELSE mn + round((CAST(v AS DOUBLE) - mn) / (mx - mn) * 255)
                * (mx - mn) / 255.0 END AS FLOAT) AS DOUBLE))) AS errs
          FROM q)
        SELECT count(*) AS n,
          round(avg(list_sum(errs) / len(errs)), 9) AS avg_mean_err,
          round(max(list_max(errs)), 9) AS worst_err,
          round(avg((mx - mn) / 510.0), 9) AS avg_err_bound
        FROM e""")),

    // ---- two-stage quantized search: int8 candidate generation + float
    //      re-rank (Quantize.topKQuantized; the oracle replays both stages
    //      bit-for-bit — integer codes, IEEE-ordered double arithmetic) ----
    QueryDef(
      "q67_quantized_topk",
      (s, d) => {
        val e = Tables.embeddings(s, d)
        val q = e.filter(col("vec_id") === 0)
          .select(col("embedding")).head().getSeq[Float](0).toArray
        graft.operators.Quantize.topKQuantized(e, "embedding", q, 20)
          .select(col("vec_id"), (round(col("score"), 4) + 0.0).as("score"))
          .orderBy(desc("score"), col("vec_id"))
      },
      Some(s"""WITH qv AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
        qs AS (SELECT list_sum(list_transform(qv, x -> CAST(x AS DOUBLE))) AS qsum
          FROM qv),
        qz AS (SELECT vec_id, embedding,
          CAST(list_min(embedding) AS DOUBLE) AS mn,
          CAST(list_max(embedding) AS DOUBLE) AS mx FROM embeddings),
        cs AS (SELECT vec_id, embedding, mn, mx,
          list_transform(embedding, v -> CASE WHEN mx = mn THEN 0
            ELSE CAST(round((CAST(v AS DOUBLE) - mn) / (mx - mn) * 255) AS INT)
              - 128 END) AS codes
          FROM qz),
        s1 AS (SELECT c.vec_id, c.embedding,
            c.mn * qs.qsum + (c.mx - c.mn) / 255.0 *
              (${sqlDot("c.codes", "q.qv")} + 128 * qs.qsum) AS approx
          FROM cs c CROSS JOIN qv q CROSS JOIN qs
          ORDER BY approx DESC, c.vec_id LIMIT 80),
        s2 AS (SELECT s.vec_id, ${sqlDot("s.embedding", "q.qv")} AS ex
          FROM s1 s CROSS JOIN qv q
          ORDER BY ex DESC, s.vec_id LIMIT 20)
        SELECT vec_id, round(ex, 4) + 0 AS score FROM s2
        ORDER BY score DESC, vec_id""")),

    // ---- SemDeDup: nearest-centroid clusters (centroids = vectors 0–7,
    //      deterministic so the oracle replays them), within-cluster
    //      cosine ≥ 0.99 → keep lowest id (Dedup.semanticDedup) ----
    QueryDef(
      "q82_semantic_dedup",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val cents = emb.filter(col("vec_id") < 8).orderBy(col("vec_id"))
          .select(col("embedding")).collect().map(_.getSeq[Float](0).toArray)
        graft.operators.Dedup.semanticDedup(
            emb.select(col("vec_id"), col("embedding")),
            "embedding", "vec_id", cents, threshold = 0.99)
          .select(col("vec_id")).orderBy(col("vec_id"))
      },
      Some(s"""WITH c AS (SELECT vec_id AS cid, embedding AS cv,
          ${sqlNormSq("embedding")} AS c2
          FROM embeddings WHERE vec_id < 8),
        dist AS (SELECT e.vec_id, e.embedding, c.cid,
          c.c2 - 2 * ${sqlDot("e.embedding", "c.cv")} AS d
          FROM embeddings e CROSS JOIN c),
        asg AS (SELECT vec_id, embedding, cid FROM (
          SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, cid)
            AS rn FROM dist) t WHERE rn = 1),
        losers AS (SELECT DISTINCT b.vec_id AS id FROM asg a JOIN asg b
          ON a.cid = b.cid AND a.vec_id < b.vec_id
          WHERE ${sqlDot("a.embedding", "b.embedding")} /
            (sqrt(${sqlNormSq("a.embedding")}) *
             sqrt(${sqlNormSq("b.embedding")}) ) >= 0.99)
        SELECT vec_id FROM embeddings
        WHERE vec_id NOT IN (SELECT id FROM losers) ORDER BY vec_id""")),

    // ---- embedding-space outliers: the 20 vectors farthest from their
    //      assigned centroid (noise/OOD detection over the same
    //      deterministic centroids as q82 — assignment is the codegen
    //      nearest_centroid kernel, distance one broadcast join + IEEE
    //      arithmetic; no shuffle of the vectors) ----
    QueryDef(
      "q89_embed_outliers",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val cents = emb.filter(col("vec_id") < 8).orderBy(col("vec_id"))
          .select(col("embedding")).collect().map(_.getSeq[Float](0).toArray)
        val cdf = emb.filter(col("vec_id") < 8)
          .select(col("vec_id").cast("int").as("__cid"),
            col("embedding").as("__cv"))
        emb.select(col("vec_id"), col("embedding"),
            graft.functions.nearest_centroid(col("embedding"), cents)
              .as("__cid"))
          .join(broadcast(cdf), "__cid")
          .select(col("vec_id"), col("__cid").cast("long").as("cid"),
            (round(sqrt(greatest(
              vec_dot(col("__cv"), col("__cv")) -
                lit(2.0) * vec_dot(col("embedding"), col("__cv")) +
                vec_dot(col("embedding"), col("embedding")), lit(0.0))), 6)
              + 0.0).as("dist"))
          .orderBy(desc("dist"), col("vec_id"))
          .limit(20)
      },
      Some(s"""WITH c AS (SELECT vec_id AS cid, embedding AS cv,
          ${sqlNormSq("embedding")} AS c2
          FROM embeddings WHERE vec_id < 8),
        dist AS (SELECT e.vec_id, c.cid,
          c.c2 - 2 * ${sqlDot("e.embedding", "c.cv")} AS d,
          c.c2 - 2 * ${sqlDot("e.embedding", "c.cv")} +
            ${sqlNormSq("e.embedding")} AS d2
          FROM embeddings e CROSS JOIN c),
        asg AS (SELECT vec_id, cid, d2 FROM (
          SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, cid)
            AS rn FROM dist) t WHERE rn = 1)
        SELECT vec_id, cid, round(sqrt(greatest(d2, 0)), 6) + 0 AS dist
        FROM asg ORDER BY dist DESC, vec_id LIMIT 20""")),

    // ---- string-fallback embedding recovery (reference gbr.py:401-416:
    //      corpora delivering the embedding column as eval-able text) —
    //      classify array/string/invalid and recover the vector
    //      (Embedding.parseEmbeddings). The oracle reproduces the garbling
    //      rule and computes the norm from the ORIGINAL floats: recovery
    //      must be value-exact through the string round trip for this to
    //      hash-match ----
    QueryDef(
      "q103_embedding_recovery",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val u = graft.sources.Ingest.uniformKey(col("vec_id"), 7L)
        val asStrings = emb.select(col("vec_id"),
          when(u < 0.1, lit("not a vector"))
            .otherwise(col("embedding").cast("string")).as("embedding"))
        graft.operators.Embedding.parseEmbeddings(asStrings, "embedding", 64)
          .select(col("vec_id"), col("emb_src"),
            (round(vec_norm(col("emb_parsed")), 4) + 0.0).as("norm"))
          .orderBy(col("vec_id"))
      },
      Some(s"""SELECT vec_id,
        CASE WHEN ('0x' || substr(md5(CAST(vec_id AS VARCHAR) || ':7'), 1, 13))::BIGINT
            / 4503599627370496.0 < 0.1 THEN 'invalid' ELSE 'string' END AS emb_src,
        CASE WHEN ('0x' || substr(md5(CAST(vec_id AS VARCHAR) || ':7'), 1, 13))::BIGINT
            / 4503599627370496.0 < 0.1 THEN NULL
          ELSE round(sqrt(${sqlNormSq("embedding")}), 4) + 0 END AS norm
        FROM embeddings ORDER BY vec_id""")),

    // ---- binary (sign) quantization: packed signatures + Hamming
    //      candidate metric (functions.vec_sign_pack / vec_hamming) — the
    //      oracle counts per-dimension sign disagreements directly, which
    //      pins the bit-packing AND the popcount-of-xor to the semantic
    //      definition ----
    QueryDef(
      "q104_sign_hamming",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val qv = emb.filter(col("vec_id") === 0).select(col("embedding"))
          .head().getSeq[Float](0).toArray
        emb.select(col("vec_id"),
            vec_hamming(vec_sign_pack(col("embedding")),
              vec_sign_pack(typedLit(qv))).as("hamming"))
          .orderBy(col("hamming"), col("vec_id")).limit(20)
      },
      Some(raw"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
        SELECT e.vec_id,
          CAST(list_sum(list_transform(list_zip(e.embedding, q.qv),
            x -> CASE WHEN (x[1] >= 0) != (x[2] >= 0) THEN 1 ELSE 0 END))
            AS BIGINT) AS hamming
        FROM embeddings e CROSS JOIN q
        ORDER BY hamming, e.vec_id LIMIT 20""")),

    // ---- MVCC serving read: snapshot-prepared top-k over a merge-on-read
    //      store (BucketedStore.prepareTopK). The store takes one delta of
    //      DISPLACING updates (negated vectors — the keys stay present but
    //      fall out of the top-k) and one of NEW keys that outscore the
    //      base; the prepared read serves from the cached base prefix plus
    //      the delta files. The oracle reconstructs the merged snapshot
    //      relationally: base minus updated keys, union latest updates ----
    QueryDef(
      "q109_prepared_topk",
      (s, d) => {
        val e = Tables.embeddings(s, d)
        val root = java.nio.file.Files.createTempDirectory("q109_store")
        try {
          val store = new graft.streaming.BucketedStore(root.toString,
            nBuckets = 8)
          store.initialize(e, "vec_id")
          store.appendDelta(
            e.filter(col("vec_id") % 40 === 0)
              .select(col("vec_id"),
                transform(col("embedding"), x => -x).as("embedding"),
                col("label")), "vec_id")
          store.appendDelta(
            e.filter(col("vec_id") < 10)
              .select((col("vec_id") + 1000000L).as("vec_id"),
                transform(col("embedding"), x => x * lit(2.0f)).as("embedding"),
                col("label")), "vec_id")
          val qv = e.filter(col("vec_id") === 0).select(col("embedding"))
            .head().getSeq[Float](0).toArray
          // fetch a 30-row margin, then apply the (score desc, vec_id)
          // tiebreak and LIMIT 20 locally: the prepared read's internal
          // truncation has no tiebreak, so ulp-close scores at its k
          // boundary must not be the oracle's LIMIT boundary
          val hits = store.prepareTopK(s, "embedding", qv, 30,
            projection = Seq("vec_id")).read()
          import s.implicits._
          hits.map(r => (r.getLong(0), r.get(1).asInstanceOf[Double]))
            .sortBy(t => (-t._2, t._1)).take(20).toSeq
            .toDF("vec_id", "score_raw")
            .select(col("vec_id"),
              (round(col("score_raw"), 4) + 0.0).as("score"))
        } finally graft.FsUtil.deleteRecursively(root)
      },
      Some(s"""WITH upd1 AS (SELECT vec_id,
          list_transform(embedding, x -> -x) AS embedding
          FROM embeddings WHERE vec_id % 40 = 0),
        upd2 AS (SELECT vec_id + 1000000 AS vec_id,
          list_transform(embedding, x -> x * CAST(2 AS FLOAT)) AS embedding
          FROM embeddings WHERE vec_id < 10),
        merged AS (
          SELECT vec_id, embedding FROM embeddings
            WHERE vec_id NOT IN (SELECT vec_id FROM upd1)
          UNION ALL SELECT vec_id, embedding FROM upd1
          UNION ALL SELECT vec_id, embedding FROM upd2),
        q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
        scored AS (SELECT m.vec_id, ${sqlDot("m.embedding", "q.qv")} AS dot
          FROM merged m CROSS JOIN q)
        SELECT vec_id, round(dot, 4) + 0 AS score
        FROM scored ORDER BY dot DESC, vec_id LIMIT 20""")),

    // ---- table-format reads: time travel + point lookup across a minor
    //      compaction. Two deltas land (the second overrides half the
    //      first's keys and adds new ones), then the live deltas merge into
    //      one slab — and the query reads (a) the snapshot AS OF the first
    //      delta's commit, (b) the current snapshot (reconstructed through
    //      the merged slab, where surviving rows keep their original seq),
    //      and (c) a point lookup of one doubly-updated key. The oracle
    //      rebuilds each snapshot relationally ----
    QueryDef(
      "q110_time_travel",
      (s, d) => {
        val e = Tables.embeddings(s, d)
        val root = java.nio.file.Files.createTempDirectory("q110_store")
        try {
          val store = new graft.streaming.BucketedStore(root.toString,
            nBuckets = 8)
          store.initialize(e, "vec_id") // v0
          store.appendDelta( // v1: every 40th key, label += 100
            e.filter(col("vec_id") % 40 === 0)
              .select(col("vec_id"), col("embedding"),
                (col("label") + 100).as("label")), "vec_id")
          store.appendDelta( // v2: every 80th key again (label += 200
            // overrides v1 for those keys), plus brand-new keys
            e.filter(col("vec_id") % 80 === 0)
              .select(col("vec_id"), col("embedding"),
                (col("label") + 200).as("label"))
              .unionByName(e.filter(col("vec_id") < 5)
                .select((col("vec_id") + 1000000L).as("vec_id"),
                  col("embedding"), (col("label") + 7).as("label"))),
            "vec_id")
          store.consolidateDeltas(s) // v3: one merged slab, seqs preserved
          val stats = (tag: String, df: org.apache.spark.sql.DataFrame) =>
            df.agg(count(lit(1)).as("n"),
                sum(col("label")).cast("long").as("sum_label"))
              .select(lit(tag).as("snapshot"), col("n"), col("sum_label"))
          // materialize before the store is cleaned up (the plan reads the
          // store's files; the returned frame must not)
          val out = stats("asof_v1", store.readVersion(s, 1))
            .unionByName(stats("current", store.read(s)))
            .unionByName(stats("lookup_k0", store.lookup(s, 0L)))
            .orderBy(col("snapshot")).collect()
          import s.implicits._
          out.map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
            .toDF("snapshot", "n", "sum_label")
        } finally graft.FsUtil.deleteRecursively(root)
      },
      Some("""WITH upd1 AS (SELECT vec_id, label + 100 AS label
          FROM embeddings WHERE vec_id % 40 = 0),
        upd2 AS (SELECT vec_id, label + 200 AS label
          FROM embeddings WHERE vec_id % 80 = 0
          UNION ALL SELECT vec_id + 1000000 AS vec_id, label + 7 AS label
          FROM embeddings WHERE vec_id < 5),
        v1 AS (SELECT vec_id, label FROM embeddings
            WHERE vec_id NOT IN (SELECT vec_id FROM upd1)
          UNION ALL SELECT vec_id, label FROM upd1),
        cur AS (SELECT vec_id, label FROM embeddings
            WHERE vec_id NOT IN (SELECT vec_id FROM upd1)
              AND vec_id NOT IN (SELECT vec_id FROM upd2)
          UNION ALL SELECT vec_id, label FROM upd1
            WHERE vec_id NOT IN (SELECT vec_id FROM upd2)
          UNION ALL SELECT vec_id, label FROM upd2)
        SELECT * FROM (
          SELECT 'asof_v1' AS snapshot, count(*) AS n,
            CAST(sum(label) AS BIGINT) AS sum_label FROM v1
          UNION ALL SELECT 'current', count(*),
            CAST(sum(label) AS BIGINT) FROM cur
          UNION ALL SELECT 'lookup_k0', count(*),
            CAST(sum(label) AS BIGINT) FROM cur WHERE vec_id = 0)
        ORDER BY snapshot""")),

    // ---- IVF index end-to-end: build on most of the table, APPEND the
    //      rest against the frozen centroids, then probe with
    //      nprobe = nclusters. An exhaustive probe equals the exact top-k
    //      REGARDLESS of how KMeans clustered — which is what lets a
    //      DuckDB oracle hash-check the whole build → cluster-partitioned
    //      layout → append → probe → re-rank pipeline without pinning
    //      centroid positions ----
    QueryDef(
      "q111_ivf_exhaustive",
      (s, d) => {
        val e = Tables.embeddings(s, d)
        val root = java.nio.file.Files.createTempDirectory("q111_ivf")
        try {
          val ivf = graft.operators.VectorSearch.buildIvf(
            e.filter(col("vec_id") >= 10), "embedding", 8,
            s"$root/ivf", sampleFraction = 1.0)
          ivf.append(e.filter(col("vec_id") < 10), "embedding")
          val qv = e.filter(col("vec_id") === 1).select(col("embedding"))
            .head().getSeq[Float](0).toArray
          // 30-row margin + local (score, vec_id) tiebreak, as q109
          val hits = ivf.search(s, qv, 30, nprobe = 8)
            .select(col("vec_id"), col("score")).collect()
          import s.implicits._
          hits.map(r => (r.getLong(0), r.getDouble(1)))
            .sortBy(t => (-t._2, t._1)).take(20).toSeq
            .toDF("vec_id", "score_raw")
            .select(col("vec_id"),
              (round(col("score_raw"), 4) + 0.0).as("score"))
        } finally graft.FsUtil.deleteRecursively(root)
      },
      Some(s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 1)
        SELECT vec_id, round(${sqlDot("e.embedding", "q.qv")}, 4) + 0 AS score
        FROM embeddings e CROSS JOIN q
        ORDER BY ${sqlDot("e.embedding", "q.qv")} DESC, vec_id LIMIT 20""")),

    // ---- JSONL sink + source roundtrip fidelity: documents (whose text
    //      carries newlines/quotes that JSON must escape) written as JSONL
    //      and read back with the explicit schema; the aggregates match
    //      the parquet original byte-for-byte if and only if the escaping
    //      and schema-typed read are lossless ----
    QueryDef(
      "q112_jsonl_roundtrip",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val root = java.nio.file.Files.createTempDirectory("q112_jsonl")
        try {
          docs.write.mode("overwrite").json(s"$root/docs")
          val back = s.read.schema(docs.schema).json(s"$root/docs")
          val out = back.agg(
            count(lit(1)).as("n"),
            countDistinct(col("doc_id")).as("ids"),
            sum(length(col("text"))).cast("long").as("chars"),
            sum(col("n_chars")).cast("long").as("sum_n_chars"),
            countDistinct(col("lang")).as("langs"),
            countDistinct(col("source")).as("sources")).collect()
          import s.implicits._
          out.map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
              r.getLong(3), r.getLong(4), r.getLong(5))).toSeq
            .toDF("n", "ids", "chars", "sum_n_chars", "langs", "sources")
        } finally graft.FsUtil.deleteRecursively(root)
      },
      Some("""SELECT count(*) AS n,
          count(DISTINCT doc_id) AS ids,
          CAST(sum(length(text)) AS BIGINT) AS chars,
          CAST(sum(n_chars) AS BIGINT) AS sum_n_chars,
          count(DISTINCT lang) AS langs,
          count(DISTINCT source) AS sources
        FROM documents""")),

    // ---- multi-query top-k in ONE scan (VectorSearch.topKMulti): the 3
    //      lowest-vec_id embeddings as query vectors, top-5 neighbors
    //      each by dot product. The operator selects a raw-score top-32
    //      per query (bounded per-query heaps, one pass over the table);
    //      the wrapper re-ranks by (rounded score, vec_id) so the emitted
    //      ranks are float-robust across engines, same device as q26. The
    //      27-row buffer past the emitted top-5 keeps the rounded-score
    //      re-rank exact even when a 4-decimal tie group straddles the
    //      heap cut (the raw cut at exactly k would let DuckDB pick a
    //      lower-id tie member the heap never kept) ----
    QueryDef(
      "q113_topk_multi",
      (s, d) => {
        val e = Tables.embeddings(s, d)
        val queries = e.filter(col("vec_id") < 3)
          .orderBy(col("vec_id")).collect()
          .map(_.getSeq[Float](1).toArray).toSeq
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("query_id")).orderBy(desc("score"), col("vec_id"))
        VectorSearch.topKMulti(e, "embedding", queries, 32, "vec_id")
          .select(col("query_id").cast("long").as("query_id"),
            (round(col("score"), 4) + 0.0).as("score"), col("vec_id"))
          .withColumn("rank", row_number().over(w).cast("long"))
          .filter(col("rank") <= 5)
          .select(col("query_id"), col("rank"), col("score"), col("vec_id"))
          .orderBy(col("query_id"), col("rank"))
      },
      Some(s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv
          FROM embeddings WHERE vec_id < 3),
        scored AS (SELECT q.qid AS query_id,
            CAST(e.vec_id AS VARCHAR) AS vec_id,
            round(${sqlDot("e.embedding", "q.qv")}, 4) + 0 AS score
          FROM embeddings e CROSS JOIN q),
        ranked AS (SELECT query_id, score, vec_id,
            row_number() OVER (PARTITION BY query_id
              ORDER BY score DESC, vec_id) AS rank
          FROM scored)
        SELECT query_id, rank, score, vec_id FROM ranked
        WHERE rank <= 5 ORDER BY query_id, rank""")),

    // ---- HTTPS dataset source (reference README.md:37-43 publishes its
    //      parquet variants behind plain HTTPS + wget): fetch the nation
    //      table from an in-process loopback server through
    //      HttpDatasetSource (resumable, verified, atomic-rename fetch)
    //      and emit the fetched rows — matching the oracle's direct read
    //      iff the transferred bytes are the table, intact ----
    QueryDef(
      "q116_http_source",
      (s, d) => {
        val bytes = java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(s"$d/nation.parquet"))
        val server = com.sun.net.httpserver.HttpServer.create(
          new java.net.InetSocketAddress("127.0.0.1", 0), 0)
        server.createContext("/nation.parquet",
          (ex: com.sun.net.httpserver.HttpExchange) => {
            try {
              ex.sendResponseHeaders(200, bytes.length.toLong)
              ex.getResponseBody.write(bytes)
            } finally ex.close()
          })
        server.start()
        val root = java.nio.file.Files.createTempDirectory("q116_http")
        try {
          val url = s"http://127.0.0.1:${server.getAddress.getPort}/nation.parquet"
          val f = graft.sources.HttpDatasetSource.fetch(url, root)
          val rows = s.read.parquet(f.path)
            .select(col("n_nationkey").cast("long").as("n_nationkey"),
              col("n_name"), col("n_regionkey").cast("long").as("n_regionkey"))
            .orderBy(col("n_nationkey")).collect()
          import s.implicits._
          rows.map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
            .toDF("n_nationkey", "n_name", "n_regionkey")
        } finally {
          server.stop(0)
          graft.FsUtil.deleteRecursively(root)
        }
      },
      Some("""SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name,
          CAST(n_regionkey AS BIGINT) AS n_regionkey
        FROM nation ORDER BY n_nationkey""")),

    // ---- cost-based exact-scan switch (r10): a filtered probe whose
    //      planned cells hold ≥ Tuning.exactScanFraction of the index's
    //      rows runs the exact pre-filtered scan — so its top-k IS the
    //      SQL answer, hash-checkable by the oracle with NO dependence
    //      on centroid positions, and the in-query require() pins that
    //      the switch (not a lucky probe) produced it. The fixture
    //      forces the min-cells gate down (the 8-cell test index sits
    //      below the production 256-cell floor) through the handle's
    //      own Tuning (r11) — no other handle sees it, so this query
    //      cannot race another's probe plan ----
    QueryDef(
      "q117_exact_switch",
      (s, d) => {
        val e = Tables.embeddings(s, d)
        val root = java.nio.file.Files.createTempDirectory("q117_switch")
        try {
          val ivf = VectorSearch.buildIvf(e, "embedding", 8,
            s"$root/ivf", sampleFraction = 1.0)
          ivf.tuning = ivf.tuning.copy(exactScanFraction = 0.125,
            exactScanMinCells = 2)
          val qv = e.filter(col("vec_id") === 1).select(col("embedding"))
            .head().getSeq[Float](0).toArray
          // even vec_ids live in every cell, so the ≥ k widening plans a
          // cell set holding ~all rows — far past the ⅛ switch point
          val hits = ivf.search(s, qv, 30, nprobe = 2,
              filter = Some(col("vec_id") % 2 === 0))
            .select(col("vec_id"), col("score")).collect()
          require(ivf.exactSwitchCount == 1L,
            s"exact-scan switch did not engage (${ivf.exactSwitchCount})")
          import s.implicits._
          hits.map(r => (r.getLong(0), r.getDouble(1)))
            .sortBy(t => (-t._2, t._1)).take(20).toSeq
            .toDF("vec_id", "score_raw")
            .select(col("vec_id"),
              (round(col("score_raw"), 4) + 0.0).as("score"))
        } finally {
          graft.FsUtil.deleteRecursively(root)
        }
      },
      Some(s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 1)
        SELECT vec_id, round(${sqlDot("e.embedding", "q.qv")}, 4) + 0 AS score
        FROM embeddings e CROSS JOIN q
        WHERE vec_id % 2 = 0
        ORDER BY ${sqlDot("e.embedding", "q.qv")} DESC, vec_id LIMIT 20""")),

    // ---- ≥512-cell PRODUCTION build path, oracle-matched (r11 verdict
    //      task 1): every real index builds through the hierarchical fit
    //      + the two-level grouped assignment kernel, but those paths
    //      engage at ≥512 cells — above any oracle fixture. This build
    //      forces BOTH through a 32-cell index via buildIvf's
    //      largePathMinCells (build-scoped, q117's no-global-mutation
    //      rule), with genuinely approximate assignment (m = ⌈√32⌉ = 6
    //      coarse groups, 4 probed). The search then probes ALL cells, so
    //      its top-k equals the flat SQL answer iff the grouped
    //      assignment placed every row in exactly one readable cell —
    //      partition-function correctness of the production kernel,
    //      hash-checked by DuckDB with no dependence on centroid
    //      positions. In-query require()s pin the provenance: both
    //      production mechanisms ran, the probe path (not the exact
    //      switch) answered, and the per-cell counts sum to the corpus ----
    QueryDef(
      "q118_grouped_build",
      (s, d) => {
        val e = Tables.embeddings(s, d)
        val root = java.nio.file.Files.createTempDirectory("q118_grouped")
        try {
          val ivf = VectorSearch.buildIvf(e, "embedding", 32,
            s"$root/ivf", sampleFraction = 1.0, largePathMinCells = 4)
          require(ivf.builtWithHierarchicalFit,
            "hierarchical fit did not run under largePathMinCells")
          require(ivf.builtWithGroupedAssign,
            "grouped assignment did not run under largePathMinCells")
          require(ivf.cellCounts.sum == e.count(),
            s"grouped assignment lost/duplicated rows: ${ivf.cellCounts.sum}")
          // switch disabled per handle: the point is the probe read over
          // the grouped layout, not the exact-scan shortcut
          ivf.tuning = ivf.tuning.copy(exactScanFraction = 0.0)
          val qv = e.filter(col("vec_id") === 2).select(col("embedding"))
            .head().getSeq[Float](0).toArray
          val hits = ivf.search(s, qv, 30, nprobe = 32)
            .select(col("vec_id"), col("score")).collect()
          require(ivf.exactSwitchCount == 0L,
            "exact-scan switch fired; probe path not exercised")
          import s.implicits._
          hits.map(r => (r.getLong(0), r.getDouble(1)))
            .sortBy(t => (-t._2, t._1)).take(20).toSeq
            .toDF("vec_id", "score_raw")
            .select(col("vec_id"),
              (round(col("score_raw"), 4) + 0.0).as("score"))
        } finally {
          graft.FsUtil.deleteRecursively(root)
        }
      },
      Some(s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 2)
        SELECT vec_id, round(${sqlDot("e.embedding", "q.qv")}, 4) + 0 AS score
        FROM embeddings e CROSS JOIN q
        ORDER BY ${sqlDot("e.embedding", "q.qv")} DESC, vec_id LIMIT 20""")),

    // ---- thin-support scan (r12 mechanism, r13 oracle — verdict task 3):
    //      a filter whose ENTIRE support is ≤ thinFactor·k rows plans ALL
    //      match-bearing cells, so the probed set IS the exact answer's
    //      support and the IVF result equals the flat SQL answer at
    //      nprobe = 1 BY CONSTRUCTION — no dependence on centroid
    //      positions or probe order. In-query require()s pin provenance:
    //      the support-scan rule planned (telemetry counter), the planned
    //      cell set EQUALS the match-bearing set read back from the index
    //      layout, the support does not cover every cell, and the probe
    //      read (not the exact-scan switch) answered. The 8-cell fixture
    //      opens the cost gate per handle (q117's no-global-mutation
    //      rule) — the gate is a cost guard, not a correctness input ----
    QueryDef(
      "q119_thin_support",
      (s, d) => {
        val e = Tables.embeddings(s, d)
        val root = java.nio.file.Files.createTempDirectory("q119_thin")
        try {
          val ivf = VectorSearch.buildIvf(e, "embedding", 8,
            s"$root/ivf", sampleFraction = 1.0)
          ivf.tuning = ivf.tuning.copy(thinReadFraction = 1.0,
            exactScanFraction = 0.0)
          val pred = col("vec_id") < 6
          val qv = e.filter(col("vec_id") === 3).select(col("embedding"))
            .head().getSeq[Float](0).toArray
          val plan = ivf.probePlan(s, Seq(qv), 5, 1, Some(pred),
            exactFallback = true).head.toSet
          require(ivf.thinSupportPlanCount >= 1L,
            "thin-support rule did not engage")
          val bearing = s.read.parquet(s"$root/ivf").filter(pred)
            .select(col("__cluster")).distinct()
            .collect().map(_.getInt(0)).toSet
          require(plan == bearing,
            s"planned cells $plan != match-bearing cells $bearing")
          require(plan.size < ivf.centroids.length,
            "support covers every cell; probe plan indistinguishable")
          val hits = ivf.search(s, qv, 5, nprobe = 1, filter = Some(pred))
            .select(col("vec_id"), col("score")).collect()
          require(ivf.exactSwitchCount == 0L,
            "exact-scan switch fired; support scan not exercised")
          import s.implicits._
          hits.map(r => (r.getLong(0), r.getDouble(1)))
            .sortBy(t => (-t._2, t._1)).take(5).toSeq
            .toDF("vec_id", "score_raw")
            .select(col("vec_id"),
              (round(col("score_raw"), 4) + 0.0).as("score"))
        } finally {
          graft.FsUtil.deleteRecursively(root)
        }
      },
      Some(s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 3)
        SELECT vec_id, round(${sqlDot("e.embedding", "q.qv")}, 4) + 0 AS score
        FROM embeddings e CROSS JOIN q
        WHERE vec_id < 6
        ORDER BY ${sqlDot("e.embedding", "q.qv")} DESC, vec_id LIMIT 5""")),

    // ---- census-backed load (r15): the index is reopened in a FRESH
    //      handle via IvfIndex.load and the filtered search runs through
    //      the relation CONSTRUCTED FROM the manifest's persisted file
    //      census (no directory listing) — in-query require()s pin that
    //      the census actually armed and survived the search, and the
    //      result hash-matches the DuckDB exact answer ----
    QueryDef(
      "q120_census_load",
      (s, d) => {
        val e = Tables.embeddings(s, d)
        val root = java.nio.file.Files.createTempDirectory("q120_census")
        try {
          VectorSearch.buildIvf(e, "embedding", 8,
            s"$root/ivf", sampleFraction = 1.0)
          val loaded = VectorSearch.IvfIndex.load(s, s"$root/ivf")
          require(loaded.censusNow0.isDefined,
            "load() did not re-arm the persisted file census")
          require(loaded.hasDistColumn,
            "load() did not detect the __dist stats column")
          val pred = col("vec_id") % 3 === 0
          val qv = e.filter(col("vec_id") === 2).select(col("embedding"))
            .head().getSeq[Float](0).toArray
          // full-probe search: every cell read THROUGH the census
          // relation; the filter's count scan also runs over it
          val hits = loaded.search(s, qv, 30, nprobe = 8, Some(pred))
            .select(col("vec_id"), col("score")).collect()
          require(loaded.censusNow0.isDefined,
            "census dropped mid-search (unexpected invalidation)")
          import s.implicits._
          hits.map(r => (r.getLong(0), r.getDouble(1)))
            .sortBy(t => (-t._2, t._1)).take(20).toSeq
            .toDF("vec_id", "score_raw")
            .select(col("vec_id"),
              (round(col("score_raw"), 4) + 0.0).as("score"))
        } finally graft.FsUtil.deleteRecursively(root)
      },
      Some(s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 2)
        SELECT vec_id, round(${sqlDot("e.embedding", "q.qv")}, 4) + 0 AS score
        FROM embeddings e CROSS JOIN q
        WHERE vec_id % 3 = 0
        ORDER BY ${sqlDot("e.embedding", "q.qv")} DESC, vec_id LIMIT 20""")),

    // ---- SQ8 storage mode (r16): the index's data files store int8
    //      codes (graft.operators.Quantize per-row asymmetric
    //      quantization) instead of the float vector — the mode that
    //      fits a 10M × 2688 corpus' only copy on disk. The filtered
    //      full-probe search through a LOADED handle (storage mode
    //      re-derived from the manifest's persisted schema) must equal
    //      the DuckDB replay of the whole pipeline: quantize → score
    //      the code algebra (= the dot against the stored dequantized
    //      vector, double arithmetic in pinned term order) → filter →
    //      top-k. In-query require()s pin provenance: the handle knows
    //      it is quantized, and the probe path (not the exact-scan
    //      switch) answered ----
    QueryDef(
      "q121_sq8_index_search",
      (s, d) => {
        val e = Tables.embeddings(s, d)
        val root = java.nio.file.Files.createTempDirectory("q121_sq8")
        try {
          VectorSearch.buildIvf(e, "embedding", 8, s"$root/ivf",
            sampleFraction = 1.0, storage = "sq8")
          val loaded = VectorSearch.IvfIndex.load(s, s"$root/ivf")
          require(loaded.quantized,
            "load() did not re-derive sq8 storage from the manifest schema")
          require(loaded.hasDistColumn,
            "sq8 layout must carry the __dist stats column")
          // pin the probe read
          loaded.tuning = loaded.tuning.copy(exactScanFraction = 0.0)
          val pred = col("vec_id") % 2 === 1
          val qv = e.filter(col("vec_id") === 4).select(col("embedding"))
            .head().getSeq[Float](0).toArray
          val hits = loaded.search(s, qv, 30, nprobe = 8, Some(pred))
            .select(col("vec_id"), col("score")).collect()
          require(loaded.exactSwitchCount == 0L,
            "exact-scan switch fired; sq8 probe path not exercised")
          import s.implicits._
          hits.map(r => (r.getLong(0), r.getDouble(1)))
            .sortBy(t => (-t._2, t._1)).take(20).toSeq
            .toDF("vec_id", "score_raw")
            .select(col("vec_id"),
              (round(col("score_raw"), 4) + 0.0).as("score"))
        } finally graft.FsUtil.deleteRecursively(root)
      },
      Some(s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 4),
        qs AS (SELECT list_sum(list_transform(qv, x -> CAST(x AS DOUBLE))) AS qsum
          FROM q),
        qz AS (SELECT vec_id, embedding,
            CAST(list_min(embedding) AS DOUBLE) AS mn,
            CAST(list_max(embedding) AS DOUBLE) AS mx
          FROM embeddings WHERE vec_id % 2 = 1),
        cs AS (SELECT vec_id, mn, mx,
            list_transform(embedding, v -> CASE WHEN mx = mn THEN 0
              ELSE CAST(round((CAST(v AS DOUBLE) - mn) / (mx - mn) * 255) AS INT)
                - 128 END) AS codes
          FROM qz),
        sc AS (SELECT c.vec_id,
            c.mn * qs.qsum + (c.mx - c.mn) / 255.0 *
              (${sqlDot("c.codes", "q.qv")} + 128 * qs.qsum) AS score
          FROM cs c CROSS JOIN q CROSS JOIN qs)
        SELECT vec_id, round(score, 4) + 0 AS score FROM sc
        ORDER BY score DESC, vec_id LIMIT 20""")),

    // ---- IVF-PQ storage mode (r16): the data files additionally carry
    //      an m-byte product-quantization code column; serving is
    //      two-phase (ADC shortlist over ONLY the code column → exact
    //      re-rank against the stored sq8 codes), so the FINAL scores
    //      are the same sq8 algebra q121 pins — the oracle is the same
    //      DuckDB replay, and the PQ machinery must deliver the same
    //      global filtered top-k because the shortlist covers it. The
    //      require()s pin provenance: the loaded handle restored its
    //      codebooks + id column from the manifest, and phase 1 (the
    //      28×-fewer-bytes candidate scan) actually served the call. ----
    QueryDef(
      "q122_pq_index_search",
      (s, d) => {
        val e = Tables.embeddings(s, d)
        val root = java.nio.file.Files.createTempDirectory("q122_pq")
        try {
          VectorSearch.buildIvf(e, "embedding", 8, s"$root/ivf",
            sampleFraction = 1.0, storage = "pq", pqIdCol = "vec_id")
          val loaded = VectorSearch.IvfIndex.load(s, s"$root/ivf")
          require(loaded.pqMode,
            "load() did not restore the pq codebooks/id column")
          val pred = col("vec_id") % 2 === 1
          val qv = e.filter(col("vec_id") === 4).select(col("embedding"))
            .head().getSeq[Float](0).toArray
          val p0 = loaded.pqPhase1Count
          val hits = loaded.search(s, qv, 30, nprobe = 8, Some(pred))
            .select(col("vec_id"), col("score")).collect()
          require(loaded.pqPhase1Count > p0,
            "PQ phase 1 did not serve the call")
          import s.implicits._
          hits.map(r => (r.getLong(0), r.getDouble(1)))
            .sortBy(t => (-t._2, t._1)).take(20).toSeq
            .toDF("vec_id", "score_raw")
            .select(col("vec_id"),
              (round(col("score_raw"), 4) + 0.0).as("score"))
        } finally graft.FsUtil.deleteRecursively(root)
      },
      Some(s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 4),
        qs AS (SELECT list_sum(list_transform(qv, x -> CAST(x AS DOUBLE))) AS qsum
          FROM q),
        qz AS (SELECT vec_id, embedding,
            CAST(list_min(embedding) AS DOUBLE) AS mn,
            CAST(list_max(embedding) AS DOUBLE) AS mx
          FROM embeddings WHERE vec_id % 2 = 1),
        cs AS (SELECT vec_id, mn, mx,
            list_transform(embedding, v -> CASE WHEN mx = mn THEN 0
              ELSE CAST(round((CAST(v AS DOUBLE) - mn) / (mx - mn) * 255) AS INT)
                - 128 END) AS codes
          FROM qz),
        sc AS (SELECT c.vec_id,
            c.mn * qs.qsum + (c.mx - c.mn) / 255.0 *
              (${sqlDot("c.codes", "q.qv")} + 128 * qs.qsum) AS score
          FROM cs c CROSS JOIN q CROSS JOIN qs)
        SELECT vec_id, round(score, 4) + 0 AS score FROM sc
        ORDER BY score DESC, vec_id LIMIT 20""")),

    // ---- tombstone deletes (r16): ids removed through the index's
    //      delete() are excluded EXACTLY from a filtered search without
    //      touching a data file — the logical half of the LSM-style
    //      delete→scrub lifecycle. The in-query require()s pin
    //      provenance (tombstones active, data files untouched, probe
    //      path answered); the oracle is DuckDB's exact filtered top-k
    //      with the deleted ids excluded by predicate ----
    QueryDef(
      "q123_index_delete",
      (s, d) => {
        val e = Tables.embeddings(s, d)
        val root = java.nio.file.Files.createTempDirectory("q123_del")
        try {
          VectorSearch.buildIvf(e, "embedding", 8, s"$root/ivf",
            sampleFraction = 1.0)
          val loaded = VectorSearch.IvfIndex.load(s, s"$root/ivf")
          // pin the probe read
          loaded.tuning = loaded.tuning.copy(exactScanFraction = 0.0)
          val total = e.count()
          val dropIds = e.filter(col("vec_id") % 7 === 3)
            .select(col("vec_id")).collect().map(_.getLong(0)).toSeq
          require(loaded.delete(s, "vec_id", dropIds) == dropIds.size.toLong,
            "delete() did not tombstone the full id set")
          require(loaded.tombstoneCount(s) == dropIds.size.toLong,
            "tombstone count mismatch")
          require(s.read.parquet(s"$root/ivf").count() == total,
            "delete() touched data files (physical removal is scrub's job)")
          val pred = col("vec_id") % 3 === 0
          val qv = e.filter(col("vec_id") === 5).select(col("embedding"))
            .head().getSeq[Float](0).toArray
          val hits = loaded.search(s, qv, 30, nprobe = 8, Some(pred))
            .select(col("vec_id"), col("score")).collect()
          require(loaded.exactSwitchCount == 0L,
            "exact-scan switch fired; tombstoned probe path not exercised")
          import s.implicits._
          hits.map(r => (r.getLong(0), r.getDouble(1)))
            .sortBy(t => (-t._2, t._1)).take(20).toSeq
            .toDF("vec_id", "score_raw")
            .select(col("vec_id"),
              (round(col("score_raw"), 4) + 0.0).as("score"))
        } finally graft.FsUtil.deleteRecursively(root)
      },
      Some(s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 5)
        SELECT vec_id, round(${sqlDot("e.embedding", "q.qv")}, 4) + 0 AS score
        FROM embeddings e CROSS JOIN q
        WHERE vec_id % 3 = 0 AND vec_id % 7 <> 3
        ORDER BY ${sqlDot("e.embedding", "q.qv")} DESC, vec_id LIMIT 20""")),

    // ---- physical scrub (r16): the same deletion served PHYSICALLY —
    //      scrub() rewrites only the affected files, clears the
    //      tombstones, and a FRESH load() (post-scrub manifest, census
    //      re-armed at the new epoch) hash-matches the same oracle.
    //      require()s pin the physical contract: rows gone from the raw
    //      parquet, tombstone set empty, removal count exact ----
    QueryDef(
      "q124_index_scrub",
      (s, d) => {
        val e = Tables.embeddings(s, d)
        val root = java.nio.file.Files.createTempDirectory("q124_scrub")
        try {
          val ivf = VectorSearch.buildIvf(e, "embedding", 8, s"$root/ivf",
            sampleFraction = 1.0)
          val total = e.count()
          val dropIds = e.filter(col("vec_id") % 7 === 3)
            .select(col("vec_id")).collect().map(_.getLong(0)).toSeq
          ivf.delete(s, "vec_id", dropIds)
          require(ivf.scrub(s) == dropIds.size.toLong,
            "scrub() removal count != tombstoned rows present in the index")
          require(ivf.tombstoneCount(s) == 0L,
            "scrub() left tombstones behind")
          require(s.read.parquet(s"$root/ivf").count() ==
            total - dropIds.size,
            "scrub() did not physically remove the rows")
          val loaded = VectorSearch.IvfIndex.load(s, s"$root/ivf")
          require(loaded.censusNow0.isDefined,
            "post-scrub manifest census did not re-arm (stale epoch?)")
          loaded.tuning = loaded.tuning.copy(exactScanFraction = 0.0)
          val pred = col("vec_id") % 3 === 0
          val qv = e.filter(col("vec_id") === 5).select(col("embedding"))
            .head().getSeq[Float](0).toArray
          val hits = loaded.search(s, qv, 30, nprobe = 8, Some(pred))
            .select(col("vec_id"), col("score")).collect()
          import s.implicits._
          hits.map(r => (r.getLong(0), r.getDouble(1)))
            .sortBy(t => (-t._2, t._1)).take(20).toSeq
            .toDF("vec_id", "score_raw")
            .select(col("vec_id"),
              (round(col("score_raw"), 4) + 0.0).as("score"))
        } finally graft.FsUtil.deleteRecursively(root)
      },
      Some(s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 5)
        SELECT vec_id, round(${sqlDot("e.embedding", "q.qv")}, 4) + 0 AS score
        FROM embeddings e CROSS JOIN q
        WHERE vec_id % 3 = 0 AND vec_id % 7 <> 3
        ORDER BY ${sqlDot("e.embedding", "q.qv")} DESC, vec_id LIMIT 20""")),

    // ---- hot-cell rebalance (r16): a skewed append (one vector copied
    //      table-count times, all landing in one cell) makes a cell hot;
    //      rebalance() splits exactly that cell (require()s pin that the
    //      centroid table grew and the max cell shrank), and the
    //      filtered full-probe search over the ORIGINAL rows through the
    //      returned handle still hash-matches DuckDB's exact answer —
    //      i.e. the split moved rows between cells without losing,
    //      duplicating or corrupting any. The appended copies are
    //      excluded by the id predicate, so the oracle stays on the
    //      fixed embeddings table while the copies exist only to force
    //      the skew ----
    QueryDef(
      "q125_index_rebalance",
      (s, d) => {
        val e = Tables.embeddings(s, d)
        val root = java.nio.file.Files.createTempDirectory("q125_rebal")
        try {
          val ivf = VectorSearch.buildIvf(e, "embedding", 8, s"$root/ivf",
            sampleFraction = 1.0)
          val total = e.count()
          val v5 = e.filter(col("vec_id") === 5).select(col("embedding"))
            .head().getSeq[Float](0).toArray
          val batch = s.range(total).select(
            (col("id") + 10000000L).as("vec_id"),
            typedLit(v5).as("embedding"),
            lit(999).as("label"))
          ivf.append(batch, "embedding")
          val oldMax = ivf.cellCounts.max
          val fresh = ivf.rebalance(s)
          require(fresh.centroids.length > 8,
            "no cell split — the skewed append did not make a cell hot")
          require(fresh.cellCounts.max < oldMax,
            "rebalance did not shrink the hot cell")
          require(fresh.cellCounts.sum == 2 * total,
            "rebalance lost or duplicated rows")
          fresh.tuning = fresh.tuning.copy(exactScanFraction = 0.0)
          val pred = col("vec_id") % 3 === 0 && col("vec_id") < 10000000L
          val qv = e.filter(col("vec_id") === 2).select(col("embedding"))
            .head().getSeq[Float](0).toArray
          val hits = fresh.search(s, qv, 30,
            nprobe = fresh.centroids.length, Some(pred))
            .select(col("vec_id"), col("score")).collect()
          import s.implicits._
          hits.map(r => (r.getLong(0), r.getDouble(1)))
            .sortBy(t => (-t._2, t._1)).take(20).toSeq
            .toDF("vec_id", "score_raw")
            .select(col("vec_id"),
              (round(col("score_raw"), 4) + 0.0).as("score"))
        } finally graft.FsUtil.deleteRecursively(root)
      },
      Some(s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 2)
        SELECT vec_id, round(${sqlDot("e.embedding", "q.qv")}, 4) + 0 AS score
        FROM embeddings e CROSS JOIN q
        WHERE vec_id % 3 = 0
        ORDER BY ${sqlDot("e.embedding", "q.qv")} DESC, vec_id LIMIT 20""")),

    // ---- tombstone-aware probe planning (r17): when most of a filter's
    //      matches are deleted, tombstone-INCLUSIVE volumes would stop
    //      the ≥ k widening early and miss the thin-support
    //      classification — the plan reads fewer live match-bearing
    //      cells than the answer needs until scrub. The r17 live lower
    //      bounds (inclusive − per-cell tombstone counts, persisted by
    //      delete()) restore it: at k = 8 the INCLUSIVE support (167 /
    //      667 matching rows at sf0.01 / sf0.1) is past the 16·k thin
    //      bar while the LIVE support (16 / 61) is under it, so the
    //      require() that the thin-support rule planned discriminates
    //      exactly the fixed path. The delete runs through the
    //      DataFrame overload (r17: Spark-side canonicalization,
    //      distributed dedup); the oracle is DuckDB's exact filtered
    //      top-k with the deleted ids excluded by predicate ----
    QueryDef(
      "q126_tombstone_widen",
      (s, d) => {
        val e = Tables.embeddings(s, d)
        val root = java.nio.file.Files.createTempDirectory("q126_widen")
        try {
          VectorSearch.buildIvf(e, "embedding", 8, s"$root/ivf",
            sampleFraction = 1.0)
          val loaded = VectorSearch.IvfIndex.load(s, s"$root/ivf")
          // pin the probe read, and open thin's cost gate (q119)
          loaded.tuning = loaded.tuning.copy(exactScanFraction = 0.0,
            thinReadFraction = 1.0)
          val pred = col("vec_id") % 3 === 0
          val delDf = e.filter(pred && col("vec_id") % 33 =!= 0)
            .select(col("vec_id"))
          val expected = delDf.count()
          require(loaded.delete(s, "vec_id", delDf) == expected,
            "DataFrame delete did not tombstone the full id set")
          require(VectorSearch.IvfIndex.readCellTombs(s, s"$root/ivf")
            .exists(_._1 == expected),
            "per-cell tombstone counts were not persisted beside the ids")
          val qv = e.filter(col("vec_id") === 5).select(col("embedding"))
            .head().getSeq[Float](0).toArray
          val thin0 = loaded.thinSupportPlanCount
          val hits = loaded.search(s, qv, 8, nprobe = 1, Some(pred))
            .select(col("vec_id"), col("score")).collect()
          require(loaded.thinSupportPlanCount > thin0,
            "thin-support did not fire on LIVE counts — planning is " +
              "still tombstone-inclusive")
          import s.implicits._
          hits.map(r => (r.getLong(0), r.getDouble(1)))
            .sortBy(t => (-t._2, t._1)).toSeq
            .toDF("vec_id", "score_raw")
            .select(col("vec_id"),
              (round(col("score_raw"), 4) + 0.0).as("score"))
        } finally graft.FsUtil.deleteRecursively(root)
      },
      Some(s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 5)
        SELECT vec_id, round(${sqlDot("e.embedding", "q.qv")}, 4) + 0 AS score
        FROM embeddings e CROSS JOIN q
        WHERE vec_id % 33 = 0
        ORDER BY ${sqlDot("e.embedding", "q.qv")} DESC, vec_id LIMIT 8""")),

    // ---- streaming TAIL segment (r17): micro-batches land as ONE file
    //      under the `__cluster=-1` partition (appendTail — no per-cell
    //      fan-out, the open-loop p95 fix measured in BENCH_ingest_r17)
    //      and every plan reads `probed cells ∪ tail` until compactTail
    //      migrates the rows through the crash-atomic journal. Pinned
    //      here end-to-end: the index is built WITHOUT the %5==0 slice,
    //      which arrives via appendTail; a filter matching ONLY tail
    //      rows is served from a 1-probe plan (the occupancy zero-match
    //      path must not fire over a live tail); compaction then moves
    //      every row and the full-probe filtered search hash-matches
    //      DuckDB's exact top-k over the WHOLE table — identical to the
    //      pre-compaction answer ----
    QueryDef(
      "q127_tail_compact",
      (s, d) => {
        val e = Tables.embeddings(s, d)
        val root = java.nio.file.Files.createTempDirectory("q127_tail")
        try {
          val tailPred = col("vec_id") % 5 === 0
          VectorSearch.buildIvf(e.filter(!tailPred), "embedding", 8,
            s"$root/ivf", sampleFraction = 1.0)
          val ivf = VectorSearch.IvfIndex.load(s, s"$root/ivf")
          // pin the probe read
          ivf.tuning = ivf.tuning.copy(exactScanFraction = 0.0)
          val tail = e.filter(tailPred)
          val expected = tail.count()
          require(ivf.appendTail(tail, "embedding") == expected,
            "appendTail did not land the full batch")
          require(ivf.tailRowsNow(s) == expected,
            "tail row accounting diverged from the batch size")
          // tail-only filter at nprobe=1: no base cell holds a match,
          // so the answer exists ONLY because the plan reads the tail
          val tailOnly = ivf.search(s, e.filter(col("vec_id") === 10)
              .select(col("embedding")).head().getSeq[Float](0).toArray,
            12, nprobe = 1, Some(tailPred)).collect()
          require(tailOnly.nonEmpty,
            "a live tail's matches were not served — membership bug")
          val qv = e.filter(col("vec_id") === 10).select(col("embedding"))
            .head().getSeq[Float](0).toArray
          val pred = col("vec_id") % 2 === 0
          def full() = ivf.search(s, qv, 12,
              nprobe = ivf.centroids.length, Some(pred))
            .select(col("vec_id"), col("score")).collect()
            .map(r => (r.getLong(0), r.getDouble(1)))
            .sortBy(t => (-t._2, t._1)).toSeq
          val pre = full()
          require(ivf.compactTail(s) == expected,
            "compaction did not move every tail row")
          require(ivf.tailRowsNow(s) == 0L, "tail must be empty after compact")
          val post = full()
          require(post == pre,
            "compaction changed a full-probe answer — fold bug")
          import s.implicits._
          post.toDF("vec_id", "score_raw")
            .select(col("vec_id"),
              (round(col("score_raw"), 4) + 0.0).as("score"))
        } finally graft.FsUtil.deleteRecursively(root)
      },
      Some(s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 10)
        SELECT vec_id, round(${sqlDot("e.embedding", "q.qv")}, 4) + 0 AS score
        FROM embeddings e CROSS JOIN q
        WHERE vec_id % 2 = 0
        ORDER BY ${sqlDot("e.embedding", "q.qv")} DESC, vec_id LIMIT 12"""))
  )
}
