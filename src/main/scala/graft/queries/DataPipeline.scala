package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.{AsOfJoin, Dedup, EventFunnel, KeyStats, MediaPipeline, Sampling, Similarity, TextAnalysis}

/** The LLM-training-data-pipeline operator battery over the provided
  * `documents` / `embeddings` tables: dedup (exact, MinHash-LSH,
  * SimHash), similarity search (brute-force + IVF), and text analysis —
  * each with a DuckDB oracle that replays the identical algorithm, so
  * the gate checks exact parity, not just row counts.
  *
  * Shared determinism rules: all hashes are md5 hex; all ratio outputs
  * are a single double division of exact integers; all vector sums
  * accumulate per-element DECIMAL products (order-insensitive).
  */
object DataPipeline {

  /** Deterministic synthetic-PII augmentation shared by q55/q97: the
    * documents table has no natural PII (verified), so both gates append
    * identically-constructed emails/phones/IPs keyed on doc_id. Spark
    * side; [[PiiAugCte]] is the bit-identical DuckDB spelling.
    */
  private def piiAugmented(docs: DataFrame): DataFrame =
    docs.withColumn("text2", concat(
      col("text"),
      when(col("doc_id") % 3 =!= 0,
        concat(lit(" Contact user"), col("doc_id").cast("string"),
          lit("@example.com."))).otherwise(lit("")),
      when(col("doc_id") % 4 === 0,
        concat(lit(" Call +1-"),
          lpad((col("doc_id") % 1000).cast("string"), 3, "0"),
          lit("-"),
          lpad(((col("doc_id") * 3) % 1000).cast("string"), 3, "0"),
          lit("-"),
          lpad(((col("doc_id") * 7) % 10000).cast("string"), 4, "0"),
          lit("."))).otherwise(lit("")),
      when(col("doc_id") % 5 === 0,
        concat(lit(" From 10."), (col("doc_id") % 256).cast("string"),
          lit(".0."), ((col("doc_id") * 3) % 256).cast("string"),
          lit("."))).otherwise(lit(""))))

  /** DuckDB spelling of [[piiAugmented]] (carries source for q97).
    * NOTE: this CTE is interpolated into oracle strings that call
    * `.stripMargin` AFTER interpolation, so no line here may begin
    * (after whitespace) with `|` — a leading `||` concat would lose its
    * first pipe to the outer strip. Every `||` therefore ends a line.
    */
  private val PiiAugCte =
    """aug AS (
      |  SELECT doc_id, source,
      |         text ||
      |         CASE WHEN doc_id % 3 <> 0
      |              THEN ' Contact user' || CAST(doc_id AS VARCHAR) ||
      |                   '@example.com.'
      |              ELSE '' END ||
      |         CASE WHEN doc_id % 4 = 0
      |              THEN ' Call +1-' ||
      |                   lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') ||
      |                   '-' ||
      |                   lpad(CAST((doc_id * 3) % 1000 AS VARCHAR), 3, '0') ||
      |                   '-' ||
      |                   lpad(CAST((doc_id * 7) % 10000 AS VARCHAR), 4, '0') ||
      |                   '.'
      |              ELSE '' END ||
      |         CASE WHEN doc_id % 5 = 0
      |              THEN ' From 10.' || CAST(doc_id % 256 AS VARCHAR) ||
      |                   '.0.' || CAST((doc_id * 3) % 256 AS VARCHAR) ||
      |                   '.'
      |              ELSE '' END AS text2
      |  FROM documents
      |)""".stripMargin

  /** DuckDB spelling of the shared shingle CTE (word 3-grams). */
  private val ShinglesCte =
    """toks AS (
      |  SELECT doc_id, list_filter(string_split(lower(text), ' '), t -> t <> '') AS w
      |  FROM documents
      |),
      |sh AS (
      |  SELECT DISTINCT doc_id,
      |         unnest(list_transform(range(1, greatest(len(w) - 1, 1)),
      |                i -> array_to_string(w[i:i+2], ' '))) AS shingle
      |  FROM toks
      |)""".stripMargin

  /** DuckDB spelling of the shared MinHash CTE (8 bands × r=2,
    * Kirsch-Mitzenmacher mixing over two 32-bit md5 halves — mirrors
    * Dedup.minhash exactly, including the hex parsing arithmetic and
    * the paired band keys).
    */
  private val MinhashCte =
    s"""$ShinglesCte,
       |hh AS (
       |  SELECT doc_id,
       |         ${Dedup.hexToLongSql("md5(shingle)", 1, "strpos")} AS h1,
       |         ${Dedup.hexToLongSql("md5(shingle)", 9, "strpos")} AS h2
       |  FROM sh
       |),
       |fns AS (SELECT unnest(range(16)) AS f),
       |mins AS (
       |  SELECT doc_id, f, MIN((h1 + f * h2) % 4294967296) AS mh
       |  FROM hh CROSS JOIN fns
       |  GROUP BY doc_id, f
       |),
       |mh AS (
       |  SELECT a.doc_id, a.f // 2 AS band, a.mh || '|' || b.mh AS minhash
       |  FROM mins a JOIN mins b
       |    ON b.doc_id = a.doc_id AND b.f = a.f + 1 AND a.f % 2 = 0
       |)""".stripMargin

  /** Parameterized variant of [[MinhashCte]] for oracles that need
    * signatures over a relation OTHER than `documents` (e.g. a
    * synthesized ingest batch): emits `{p}toks/{p}sh/{p}hh/{p}mins/
    * {p}mh` over `rel` (which must expose doc_id + text). Identical
    * hash family, banding, and key format; requires a shared
    * `fns AS (SELECT unnest(range(16)) AS f)` CTE in scope. Returned
    * pre-stripped so callers can splice it before their own
    * `.stripMargin`.
    */
  private def minhashCteFor(rel: String, p: String): String =
    s"""${p}toks AS (
       |  SELECT doc_id, list_filter(string_split(lower(text), ' '), t -> t <> '') AS w
       |  FROM $rel
       |),
       |${p}sh AS (
       |  SELECT DISTINCT doc_id,
       |         unnest(list_transform(range(1, greatest(len(w) - 1, 1)),
       |                i -> array_to_string(w[i:i+2], ' '))) AS shingle
       |  FROM ${p}toks
       |),
       |${p}hh AS (
       |  SELECT doc_id,
       |         ${Dedup.hexToLongSql("md5(shingle)", 1, "strpos")} AS h1,
       |         ${Dedup.hexToLongSql("md5(shingle)", 9, "strpos")} AS h2
       |  FROM ${p}sh
       |),
       |${p}mins AS (
       |  SELECT doc_id, f, MIN((h1 + f * h2) % 4294967296) AS mh
       |  FROM ${p}hh CROSS JOIN fns
       |  GROUP BY doc_id, f
       |),
       |${p}mh AS (
       |  SELECT a.doc_id, a.f // 2 AS band, a.mh || '|' || b.mh AS minhash
       |  FROM ${p}mins a JOIN ${p}mins b
       |    ON b.doc_id = a.doc_id AND b.f = a.f + 1 AND a.f % 2 = 0
       |)""".stripMargin

  /** DuckDB spelling of the verified near-dup cluster labeling (extends
    * [[MinhashCte]]): banded candidates → exact-Jaccard verification →
    * recursive-CTE reachability closure → component-min labels `lab`
    * plus sizes `sz`. Shared by q59 / q85 / q90; requires
    * `WITH RECURSIVE`.
    */
  private val ClustersCte =
    s"""$MinhashCte,
       |cand AS (
       |  SELECT DISTINCT m1.doc_id AS a, m2.doc_id AS b
       |  FROM mh m1 JOIN mh m2 ON m1.band = m2.band
       |   AND m1.minhash = m2.minhash AND m1.doc_id < m2.doc_id
       |),
       |cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
       |inter AS (
       |  SELECT c.a, c.b, COUNT(*) AS i
       |  FROM cand c
       |  JOIN sh s1 ON s1.doc_id = c.a
       |  JOIN sh s2 ON s2.doc_id = c.b AND s2.shingle = s1.shingle
       |  GROUP BY c.a, c.b
       |),
       |pairs AS (
       |  SELECT i.a, i.b
       |  FROM inter i JOIN cnt ca ON ca.doc_id = i.a
       |               JOIN cnt cb ON cb.doc_id = i.b
       |  WHERE CAST(i.i AS DOUBLE) / (ca.n + cb.n - i.i) >= 0.5
       |),
       |edges AS (
       |  SELECT a, b FROM pairs UNION ALL SELECT b AS a, a AS b FROM pairs
       |),
       |nodes AS (SELECT DISTINCT a AS node FROM edges),
       |walk(node, r) AS (
       |  SELECT node, node FROM nodes
       |  UNION
       |  SELECT w.node, e.b FROM walk w JOIN edges e ON e.a = w.r
       |),
       |lab AS (
       |  SELECT node AS doc_id, MIN(r) AS cluster FROM walk GROUP BY node
       |),
       |sz AS (
       |  SELECT cluster, CAST(COUNT(*) AS BIGINT) AS cluster_size
       |  FROM lab GROUP BY cluster
       |)""".stripMargin

  /** DuckDB spelling of the SimHash signature computation (explode
    * formulation; the Spark side computes the identical arithmetic in
    * one pass via the SimHashAgg typed aggregator).
    */
  private val SimhashCte =
    """tok AS (
      |  SELECT doc_id, unnest(list_filter(string_split(lower(text), ' '),
      |                 t -> t <> '')) AS t
      |  FROM documents
      |),
      |th AS (SELECT doc_id, md5(t) AS h FROM tok),
      |bits AS (SELECT unnest(range(64)) AS b),
      |contrib AS (
      |  SELECT th.doc_id, bits.b,
      |    SUM(CASE WHEN ((strpos('0123456789abcdef',
      |                    substr(th.h, CAST(bits.b // 4 AS INT) + 1, 1)) - 1)
      |             // (CASE bits.b % 4 WHEN 0 THEN 8 WHEN 1 THEN 4
      |                 WHEN 2 THEN 2 ELSE 1 END)) % 2 = 1
      |        THEN 1 ELSE -1 END) AS s
      |  FROM th CROSS JOIN bits
      |  GROUP BY th.doc_id, bits.b
      |),
      |digits AS (
      |  SELECT doc_id, b // 4 AS d,
      |    SUM(CASE WHEN s >= 0 THEN 1 ELSE 0 END
      |        * CASE b % 4 WHEN 0 THEN 8 WHEN 1 THEN 4
      |          WHEN 2 THEN 2 ELSE 1 END) AS dv
      |  FROM contrib GROUP BY doc_id, b // 4
      |),
      |sim AS (
      |  SELECT doc_id,
      |         string_agg(substr('0123456789abcdef', CAST(dv AS INT) + 1, 1),
      |                    '' ORDER BY d) AS simhash
      |  FROM digits GROUP BY doc_id
      |)""".stripMargin

  /** DuckDB spelling of per-dimension vector expansion + pico-quantized
    * norms (`FLOOR(x*1e12 + 0.5)` longs — mirrors Similarity.dotQ).
    */
  private val DimsCte =
    """dims AS (
      |  SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS v
      |  FROM embeddings CROSS JOIN (SELECT unnest(range(1, 65)) AS i)
      |),
      |norm AS (
      |  SELECT vec_id,
      |         CAST(SUM(CAST(FLOOR(v * v * 1000000000000 + 0.5) AS BIGINT))
      |              AS DOUBLE) / 1000000000000 AS n2
      |  FROM dims GROUP BY vec_id
      |)""".stripMargin

  /** DuckDB spelling of the full trained-IVF search (mirrors q52's
    * Spark path statement-for-statement): deterministic Lloyd k-means
    * over the md5-ordered sample, nprobe=2 multi-probe, exact rerank.
    * `TrainedIvfChain` is the WITH-chain ending in `ranked`, shared
    * between the q52 gate and the q87 recall-report oracle.
    */
  /** The training prefix of [[TrainedIvfChain]] — sample ranking,
    * Lloyd iterations, final corpus scoring, argmax assignment —
    * ending in `assign$sfx(tid, k)`, with every CTE name suffixed so
    * TWO independent quantizers can coexist in one statement (the
    * q129 two-level oracle trains a second chain on salt `|ivfseed2`).
    * With `sfx = ""` and the default salt this is byte-identical to
    * the pre-r9 chain, so q52/q87/q108/q122/q128 hashes are unchanged.
    */
  private def trainedAssignPrefix(sfx: String, salt: String): String = {
        // one Lloyd iteration: prev centroids c{n-1} → assignments → c{n}
        def iter(n: Int): String = {
          val prev = if (n == 1) s"c0$sfx" else s"c${n - 1}$sfx"
          s"""cn$n$sfx AS (
             |  SELECT k, CAST(SUM(CAST(FLOOR(c * c * 1000000000000 + 0.5)
             |       AS BIGINT)) AS DOUBLE) / 1000000000000 AS cn2
             |  FROM $prev GROUP BY k),
             |sc$n$sfx AS (
             |  SELECT sd.vec_id, c.k,
             |         (CAST(SUM(CAST(FLOOR(sd.v * c.c * 1000000000000 + 0.5)
             |               AS BIGINT)) AS DOUBLE) / 1000000000000)
             |           / sqrt(cn.cn2) AS score
             |  FROM sdims$sfx sd JOIN $prev c ON c.i = sd.i
             |  JOIN cn$n$sfx cn ON cn.k = c.k
             |  GROUP BY sd.vec_id, c.k, cn.cn2),
             |a$n$sfx AS (
             |  SELECT vec_id, k FROM (
             |    SELECT vec_id, k, ROW_NUMBER() OVER (PARTITION BY vec_id
             |           ORDER BY score DESC, k) AS rn
             |    FROM sc$n$sfx) x WHERE rn = 1),
             |m$n$sfx AS (
             |  SELECT a.k, sd.i,
             |         CAST(SUM(CAST(FLOOR(sd.v * 1000000000000 + 0.5)
             |              AS BIGINT)) AS DOUBLE) / 1000000000000 / COUNT(*)
             |           AS cnew
             |  FROM sdims$sfx sd JOIN a$n$sfx a ON a.vec_id = sd.vec_id
             |  GROUP BY a.k, sd.i),
             |c$n$sfx AS (
             |  SELECT c.k, c.i, COALESCE(m.cnew, c.c) AS c
             |  FROM $prev c LEFT JOIN m$n$sfx m ON m.k = c.k AND m.i = c.i)"""
        }
        s"""rk$sfx AS (
           |  SELECT vec_id,
           |         ROW_NUMBER() OVER (ORDER BY md5(vec_id || '$salt'))
           |           AS r
           |  FROM embeddings),
           |smp$sfx AS (SELECT vec_id, r FROM rk$sfx WHERE r <= 256),
           |sdims$sfx AS (
           |  SELECT d.vec_id, d.i, d.v, s.r
           |  FROM dims d JOIN smp$sfx s ON s.vec_id = d.vec_id),
           |c0$sfx AS (
           |  SELECT r - 1 AS k, i, v AS c FROM sdims$sfx WHERE r <= 8),
           |${iter(1)},
           |${iter(2)},
           |fcn$sfx AS (
           |  SELECT k, CAST(SUM(CAST(FLOOR(c * c * 1000000000000 + 0.5)
           |       AS BIGINT)) AS DOUBLE) / 1000000000000 AS cn2
           |  FROM c2$sfx GROUP BY k),
           |fsc$sfx AS (
           |  SELECT d.vec_id, c.k,
           |         (CAST(SUM(CAST(FLOOR(d.v * c.c * 1000000000000 + 0.5)
           |               AS BIGINT)) AS DOUBLE) / 1000000000000)
           |           / sqrt(cn.cn2) AS score
           |  FROM dims d JOIN c2$sfx c ON c.i = d.i
           |  JOIN fcn$sfx cn ON cn.k = c.k
           |  GROUP BY d.vec_id, c.k, cn.cn2),
           |assign$sfx AS (
           |  SELECT vec_id AS tid, k FROM (
           |    SELECT vec_id, k, ROW_NUMBER() OVER (PARTITION BY vec_id
           |           ORDER BY score DESC, k) AS rn
           |    FROM fsc$sfx) x WHERE rn = 1)""".stripMargin
  }

  private lazy val TrainedIvfChain: String = {
        trainedAssignPrefix("", "|ivfseed") + s""",
           |probes AS (
           |  SELECT vec_id AS qid, k FROM (
           |    SELECT vec_id, k, ROW_NUMBER() OVER (PARTITION BY vec_id
           |           ORDER BY score DESC, k) AS crnk
           |    FROM fsc WHERE vec_id < 10) x WHERE crnk <= 2),
           |cand AS (
           |  SELECT p.qid, a.tid
           |  FROM probes p JOIN assign a ON a.k = p.k AND a.tid <> p.qid),
           |$IvfDotRankCte""".stripMargin
  }

  /** Exact-rerank tail shared by every trained-quantizer oracle: a
    * `cand(qid, tid)` set → pico-quantized dots → cosines → per-qid
    * rank. Referenced by [[TrainedIvfChain]] (q52/q87) and the
    * KNN-graph oracle (q108), which differ only in how `cand` is built
    * (query probes vs whole-corpus block self-join).
    */
  private val IvfDotRankCte: String =
    """dot AS (
      |  SELECT c.qid, c.tid,
      |         CAST(SUM(CAST(FLOOR(q.v * t.v * 1000000000000 + 0.5)
      |              AS BIGINT)) AS DOUBLE) / 1000000000000 AS d
      |  FROM cand c JOIN dims q ON q.vec_id = c.qid
      |              JOIN dims t ON t.vec_id = c.tid AND t.i = q.i
      |  GROUP BY c.qid, c.tid),
      |scored AS (
      |  SELECT qid, tid, d / (sqrt(nq.n2) * sqrt(nt.n2)) AS cosine
      |  FROM dot JOIN norm nq ON nq.vec_id = qid
      |           JOIN norm nt ON nt.vec_id = tid),
      |ranked AS (
      |  SELECT qid, tid, cosine,
      |         CAST(ROW_NUMBER() OVER (PARTITION BY qid
      |              ORDER BY cosine DESC, tid) AS BIGINT) AS rnk
      |  FROM scored)""".stripMargin

  private lazy val TrainedIvfOracle: String =
    "WITH " + DimsCte + ",\n" + TrainedIvfChain + "\n" +
      "SELECT qid, tid, cosine, rnk FROM ranked WHERE rnk <= 5\n" +
      "ORDER BY qid, rnk"

  /** KNN-graph oracle: the same trained assignment as q52
    * ([[TrainedIvfChain]]'s prefix, reused verbatim through `assign`)
    * with candidates = whole-corpus block self-join, then the shared
    * exact-rerank tail. Kept as prefix-splice rather than a copy so
    * the two oracles can never drift.
    */
  private lazy val KnnGraphOracle: String = {
    val prefix = TrainedIvfChain.substring(0,
      TrainedIvfChain.indexOf(",\nprobes AS ("))
    "WITH " + DimsCte + ",\n" + prefix + ",\n" +
      """cand AS (
        |  SELECT x.tid AS qid, y.tid AS tid
        |  FROM assign x JOIN assign y ON y.k = x.k AND y.tid <> x.tid),
        |""".stripMargin + IvfDotRankCte + "\n" +
      "SELECT qid AS vec_id, tid AS nbr, cosine, rnk FROM ranked\n" +
      "WHERE rnk <= 3 ORDER BY vec_id, rnk"
  }

  val defs: Seq[QueryDef] = Seq(

    // --- Exact dedup: one hash aggregate on a content fingerprint.
    QueryDef(
      "q30_exact_dedup",
      (s, dir) => Dedup.exactGroups(Tables(s, dir, "documents"))
        .orderBy("fingerprint"),
      Some("""SELECT md5(text) AS fingerprint, COUNT(*) AS n_docs,
             |       MIN(doc_id) AS representative
             |FROM documents
             |GROUP BY md5(text)
             |ORDER BY fingerprint""".stripMargin)),

    // --- MinHash-LSH candidate buckets ((band, minhash) keys with >1
    //     member) — the anti-all-pairs layout for near-dup at scale.
    QueryDef(
      "q31_lsh_buckets",
      (s, dir) => Dedup.lshBuckets(Tables(s, dir, "documents"))
        .orderBy("band", "minhash"),
      Some(s"""WITH $MinhashCte
             |SELECT band, minhash, COUNT(*) AS n_docs,
             |       string_agg(doc_id, ',' ORDER BY doc_id) AS docs
             |FROM mh GROUP BY band, minhash HAVING COUNT(*) > 1
             |ORDER BY band, minhash""".stripMargin)),

    // --- Verified near-duplicate pairs: LSH candidates with exact
    //     shingle-Jaccard >= 0.5 (intersection via bucket-bounded join;
    //     r=2 banding surfaces J >= 0.8 pairs with ~certainty).
    QueryDef(
      "q32_minhash_near_dup",
      (s, dir) => Dedup.nearDupPairs(Tables(s, dir, "documents")),
      Some(s"""WITH $MinhashCte,
             |cand AS (
             |  SELECT DISTINCT m1.doc_id AS a, m2.doc_id AS b
             |  FROM mh m1 JOIN mh m2 ON m1.band = m2.band
             |   AND m1.minhash = m2.minhash AND m1.doc_id < m2.doc_id
             |),
             |cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
             |inter AS (
             |  SELECT c.a, c.b, COUNT(*) AS i
             |  FROM cand c
             |  JOIN sh s1 ON s1.doc_id = c.a
             |  JOIN sh s2 ON s2.doc_id = c.b AND s2.shingle = s1.shingle
             |  GROUP BY c.a, c.b
             |)
             |SELECT i.a, i.b, i.i,
             |       CAST(i.i AS DOUBLE) / (ca.n + cb.n - i.i) AS jaccard
             |FROM inter i JOIN cnt ca ON ca.doc_id = i.a
             |             JOIN cnt cb ON cb.doc_id = i.b
             |WHERE CAST(i.i AS DOUBLE) / (ca.n + cb.n - i.i) >= 0.5
             |ORDER BY a, b""".stripMargin)),

    // --- 64-bit SimHash signatures (hex), pure integer arithmetic.
    QueryDef(
      "q33_simhash",
      (s, dir) => Dedup.simhash(Tables(s, dir, "documents"))
        .orderBy("doc_id"),
      Some(s"""WITH $SimhashCte
             |SELECT doc_id, simhash FROM sim ORDER BY doc_id""".stripMargin)),

    // --- SimHash near-dup pairs: 4×16-bit block buckets (complete for
    //     hamming ≤ 3 by pigeonhole) + exact hamming verify.
    QueryDef(
      "q46_simhash_near_dup",
      (s, dir) => Dedup.simhashNearDup(Tables(s, dir, "documents")),
      Some(s"""WITH $SimhashCte,
             |blocks AS (
             |  SELECT s.doc_id, s.simhash, bl.bk,
             |         substr(s.simhash, 1 + CAST(bl.bk AS INT) * 4, 4) AS block
             |  FROM sim s CROSS JOIN (SELECT unnest(range(4)) AS bk) bl
             |),
             |cand AS (
             |  SELECT DISTINCT b1.doc_id AS a, b2.doc_id AS b,
             |         b1.simhash AS sa, b2.simhash AS sb
             |  FROM blocks b1 JOIN blocks b2
             |    ON b1.bk = b2.bk AND b1.block = b2.block
             |   AND b1.doc_id < b2.doc_id
             |),
             |pos AS (SELECT unnest(range(16)) AS i),
             |ham AS (
             |  SELECT a, b,
             |    CAST(SUM(CAST(substr('0112122312232334',
             |      CAST(xor(strpos('0123456789abcdef', substr(sa, CAST(i AS INT) + 1, 1)) - 1,
             |               strpos('0123456789abcdef', substr(sb, CAST(i AS INT) + 1, 1)) - 1)
             |           AS INT) + 1, 1) AS BIGINT)) AS BIGINT) AS hamming
             |  FROM cand CROSS JOIN pos GROUP BY a, b
             |)
             |SELECT a, b, hamming FROM ham WHERE hamming <= 3
             |ORDER BY a, b""".stripMargin)),

    // --- Backward as-of join (DuckDB-native ASOF as the oracle): each
    //     click matched to the latest same-user error at or before it.
    QueryDef(
      "q47_asof_join",
      (s, dir) => {
        import org.apache.spark.sql.functions._
        val ev = Tables(s, dir, "events")
        val e = ev.select(col("event_id"), col("user_id"),
            Tables.epochSec(ev).as("sec"), col("event_type"))
        val clicks = e.where(col("event_type") === "click")
          .select("event_id", "user_id", "sec")
        val errs = e.where(col("event_type") === "error")
          .groupBy("user_id", "sec")
          .agg(max("event_id").as("err_event_id"))
          .withColumn("err_sec", col("sec"))
        AsOfJoin.backward(clicks, errs, keys = Seq("user_id"),
          leftTs = "sec", rightTs = "sec",
          payloadCols = Seq("err_event_id", "err_sec"))
          .select("event_id", "user_id", "sec", "err_event_id", "err_sec")
          .orderBy("event_id")
      },
      Some("""WITH e AS (SELECT event_id, user_id,
             |                  CAST(FLOOR(EPOCH(ts)) AS BIGINT) AS sec, event_type
             |           FROM events),
             |clicks AS (SELECT event_id, user_id, sec FROM e
             |           WHERE event_type = 'click'),
             |errs AS (SELECT user_id, sec, MAX(event_id) AS err_event_id
             |         FROM e WHERE event_type = 'error' GROUP BY user_id, sec)
             |SELECT c.event_id, c.user_id, c.sec, r.err_event_id,
             |       r.sec AS err_sec
             |FROM clicks c ASOF LEFT JOIN errs r
             |  ON c.user_id = r.user_id AND r.sec <= c.sec
             |ORDER BY c.event_id""".stripMargin)),

    // --- Brute-force exact cosine top-5 for queries vec_id < 10.
    QueryDef(
      "q34_cosine_topk",
      (s, dir) => Similarity.cosineTopK(Tables(s, dir, "embeddings")),
      Some(s"""WITH $DimsCte,
             |dot AS (
             |  SELECT q.vec_id AS qid, t.vec_id AS tid,
             |         CAST(SUM(CAST(FLOOR(q.v * t.v * 1000000000000 + 0.5)
             |              AS BIGINT)) AS DOUBLE) / 1000000000000 AS d
             |  FROM dims q JOIN dims t ON q.i = t.i
             |   AND q.vec_id < 10 AND t.vec_id <> q.vec_id
             |  GROUP BY q.vec_id, t.vec_id
             |),
             |scored AS (
             |  SELECT qid, tid, d / (sqrt(nq.n2) * sqrt(nt.n2)) AS cosine
             |  FROM dot JOIN norm nq ON nq.vec_id = qid
             |           JOIN norm nt ON nt.vec_id = tid
             |),
             |ranked AS (
             |  SELECT qid, tid, cosine,
             |         CAST(ROW_NUMBER() OVER (PARTITION BY qid
             |              ORDER BY cosine DESC, tid) AS BIGINT) AS rnk
             |  FROM scored
             |)
             |SELECT qid, tid, cosine, rnk FROM ranked WHERE rnk <= 5
             |ORDER BY qid, rnk""".stripMargin)),

    // --- IVF (centroid-probed) approximate top-5: label = coarse
    //     cluster; probe the nearest centroid's partition only.
    QueryDef(
      "q35_ivf_topk",
      (s, dir) => Similarity.ivfTopK(Tables(s, dir, "embeddings")),
      Some(s"""WITH $DimsCte,
             |lab AS (SELECT vec_id, label FROM embeddings),
             |cent AS (
             |  SELECT l.label, d.i,
             |         CAST(SUM(CAST(FLOOR(d.v * 1000000000000 + 0.5) AS BIGINT))
             |              AS DOUBLE) / 1000000000000 / COUNT(*) AS c
             |  FROM dims d JOIN lab l ON l.vec_id = d.vec_id
             |  GROUP BY l.label, d.i
             |),
             |cnorm AS (
             |  SELECT label,
             |         CAST(SUM(CAST(FLOOR(c * c * 1000000000000 + 0.5) AS BIGINT))
             |              AS DOUBLE) / 1000000000000 AS n2
             |  FROM cent GROUP BY label
             |),
             |qcent AS (
             |  SELECT d.vec_id AS qid, c.label,
             |         (CAST(SUM(CAST(FLOOR(d.v * c.c * 1000000000000 + 0.5)
             |               AS BIGINT)) AS DOUBLE) / 1000000000000)
             |           / (sqrt(nq.n2) * sqrt(cn.n2)) AS ccos
             |  FROM dims d
             |  JOIN cent c ON c.i = d.i
             |  JOIN norm nq ON nq.vec_id = d.vec_id
             |  JOIN cnorm cn ON cn.label = c.label
             |  WHERE d.vec_id < 10
             |  GROUP BY d.vec_id, c.label, nq.n2, cn.n2
             |),
             |probe AS (
             |  SELECT qid, label FROM (
             |    SELECT qid, label,
             |           ROW_NUMBER() OVER (PARTITION BY qid
             |             ORDER BY ccos DESC, label) AS crnk
             |    FROM qcent) x WHERE crnk = 1
             |),
             |dot AS (
             |  SELECT q.vec_id AS qid, t.vec_id AS tid,
             |         CAST(SUM(CAST(FLOOR(q.v * t.v * 1000000000000 + 0.5)
             |              AS BIGINT)) AS DOUBLE) / 1000000000000 AS d
             |  FROM dims q JOIN dims t ON q.i = t.i AND t.vec_id <> q.vec_id
             |  JOIN probe p ON p.qid = q.vec_id
             |  JOIN lab tl ON tl.vec_id = t.vec_id AND tl.label = p.label
             |  GROUP BY q.vec_id, t.vec_id
             |),
             |scored AS (
             |  SELECT qid, tid, d / (sqrt(nq.n2) * sqrt(nt.n2)) AS cosine
             |  FROM dot JOIN norm nq ON nq.vec_id = qid
             |           JOIN norm nt ON nt.vec_id = tid
             |),
             |ranked AS (
             |  SELECT qid, tid, cosine,
             |         CAST(ROW_NUMBER() OVER (PARTITION BY qid
             |              ORDER BY cosine DESC, tid) AS BIGINT) AS rnk
             |  FROM scored
             |)
             |SELECT qid, tid, cosine, rnk FROM ranked WHERE rnk <= 5
             |ORDER BY qid, rnk""".stripMargin)),

    // --- Embedding near-dup via deterministic random-hyperplane LSH.
    //     Demonstrated over the provided vectors unioned with an
    //     id-shifted copy of themselves, so the planted ground truth is
    //     exactly the 1:1 self-pairs — the gate checks the operator
    //     finds all of them (100% recall at cosine ≥ 0.99) and nothing
    //     else, bucketed (never all-pairs).
    QueryDef(
      "q48_embedding_near_dup",
      (s, dir) => {
        import org.apache.spark.sql.functions._
        val e = Tables(s, dir, "embeddings").select("vec_id", "embedding")
        val base = e.unionByName(e.select(
          (col("vec_id") + 100000).as("vec_id"), col("embedding")))
        Similarity.embeddingNearDup(base)
      },
      Some("""WITH base AS (
             |  SELECT vec_id, embedding FROM embeddings
             |  UNION ALL
             |  SELECT vec_id + 100000, embedding FROM embeddings
             |),
             |dims AS (
             |  SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS v
             |  FROM base CROSS JOIN (SELECT unnest(range(1, 65)) AS i)
             |),
             |planes AS (
             |  SELECT p.p, d.i,
             |    CASE WHEN (strpos('0123456789abcdef',
             |           substr(md5(p.p || '|' || d.i), 1, 1)) - 1) % 2 = 1
             |      THEN 1 ELSE -1 END AS s
             |  FROM (SELECT unnest(range(16)) AS p) p
             |  CROSS JOIN (SELECT unnest(range(1, 65)) AS i) d
             |),
             |proj AS (
             |  SELECT d.vec_id, pl.p,
             |    SUM(CAST(FLOOR(pl.s * d.v * 1000000000000 + 0.5) AS BIGINT)) AS pr
             |  FROM dims d JOIN planes pl ON pl.i = d.i
             |  GROUP BY d.vec_id, pl.p
             |),
             |keys AS (
             |  SELECT vec_id,
             |    string_agg(CASE WHEN pr >= 0 THEN '1' ELSE '0' END, ''
             |               ORDER BY p) AS bucket
             |  FROM proj GROUP BY vec_id
             |),
             |cand AS (
             |  SELECT k1.vec_id AS a, k2.vec_id AS b
             |  FROM keys k1 JOIN keys k2
             |    ON k1.bucket = k2.bucket AND k1.vec_id < k2.vec_id
             |),
             |norm AS (
             |  SELECT vec_id,
             |         SUM(CAST(FLOOR(v * v * 1000000000000 + 0.5) AS BIGINT)) AS n2
             |  FROM dims GROUP BY vec_id
             |),
             |dot AS (
             |  SELECT c.a, c.b,
             |    SUM(CAST(FLOOR(x.v * y.v * 1000000000000 + 0.5) AS BIGINT)) AS d
             |  FROM cand c JOIN dims x ON x.vec_id = c.a
             |              JOIN dims y ON y.vec_id = c.b AND y.i = x.i
             |  GROUP BY c.a, c.b
             |),
             |scored AS (
             |  SELECT a, b,
             |    (CAST(d AS DOUBLE) / 1000000000000)
             |      / (sqrt(CAST(na.n2 AS DOUBLE) / 1000000000000)
             |       * sqrt(CAST(nb.n2 AS DOUBLE) / 1000000000000)) AS cosine
             |  FROM dot JOIN norm na ON na.vec_id = a
             |           JOIN norm nb ON nb.vec_id = b
             |)
             |SELECT a, b, cosine FROM scored WHERE cosine >= 0.99
             |ORDER BY a, b""".stripMargin)),

    // --- Per-document text statistics + quality bucket.
    QueryDef(
      "q36_text_stats",
      (s, dir) => TextAnalysis.stats(Tables(s, dir, "documents")),
      Some("""WITH tok AS (
             |  SELECT doc_id, lang, n_chars,
             |         unnest(list_filter(string_split(lower(text), ' '),
             |                t -> t <> '')) AS t
             |  FROM documents
             |),
             |agg AS (
             |  SELECT doc_id, lang, n_chars, COUNT(*) AS n_tokens,
             |         CAST(COUNT(DISTINCT t) AS BIGINT) AS n_distinct,
             |         SUM(LENGTH(t)) AS sum_token_len
             |  FROM tok GROUP BY doc_id, lang, n_chars
             |),
             |bpe AS (
             |  SELECT doc_id,
             |         CAST(len(regexp_extract_all(lower(text),
             |              '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS BIGINT) AS n_bpe_tokens
             |  FROM documents
             |)
             |SELECT a.doc_id, lang, n_chars, n_tokens, n_distinct, n_bpe_tokens,
             |       CAST(n_distinct AS DOUBLE) / n_tokens AS ttr,
             |       CAST(sum_token_len AS DOUBLE) / n_tokens AS avg_token_len,
             |       CASE WHEN n_tokens BETWEEN 20 AND 200
             |                 AND CAST(n_distinct AS DOUBLE) / n_tokens > 0.4
             |            THEN 'good' ELSE 'poor' END AS quality
             |FROM agg a JOIN bpe b ON a.doc_id = b.doc_id
             |ORDER BY a.doc_id""".stripMargin)),

    // --- Language-ID heuristic scored as a confusion matrix.
    QueryDef(
      "q37_lang_id",
      (s, dir) => TextAnalysis.langIdConfusion(Tables(s, dir, "documents")),
      Some("""WITH tok AS (
             |  SELECT doc_id, lang,
             |         unnest(list_filter(string_split(lower(text), ' '),
             |                t -> t <> '')) AS t
             |  FROM documents
             |),
             |scores AS (
             |  SELECT doc_id, lang,
             |    SUM(CASE WHEN t IN ('the','a','and','of','to') THEN 1 ELSE 0 END) AS en_score,
             |    SUM(CASE WHEN t IN ('der','die','und','das','ist') THEN 1 ELSE 0 END) AS de_score,
             |    SUM(CASE WHEN t IN ('le','la','et','les','un') THEN 1 ELSE 0 END) AS fr_score,
             |    SUM(CASE WHEN t IN ('el','los','que','de','y') THEN 1 ELSE 0 END) AS es_score
             |  FROM tok GROUP BY doc_id, lang
             |),
             |pred AS (
             |  SELECT lang, CASE
             |    WHEN en_score >= de_score AND en_score >= fr_score
             |         AND en_score >= es_score AND en_score > 0 THEN 'en'
             |    WHEN de_score >= fr_score AND de_score >= es_score
             |         AND de_score > 0 THEN 'de'
             |    WHEN fr_score >= es_score AND fr_score > 0 THEN 'fr'
             |    WHEN es_score > 0 THEN 'es'
             |    ELSE 'unknown' END AS predicted
             |  FROM scores
             |)
             |SELECT lang, predicted, COUNT(*) AS n FROM pred
             |GROUP BY lang, predicted ORDER BY lang, predicted""".stripMargin)),

    // --- Min-k shingle-hash document fingerprints.
    QueryDef(
      "q38_fingerprint",
      (s, dir) => TextAnalysis.fingerprint(Tables(s, dir, "documents")),
      Some(s"""WITH $ShinglesCte,
             |ranked AS (
             |  SELECT doc_id, md5(shingle) AS h,
             |         ROW_NUMBER() OVER (PARTITION BY doc_id
             |           ORDER BY md5(shingle)) AS r
             |  FROM sh
             |)
             |SELECT doc_id, string_agg(h, '' ORDER BY r) AS fingerprint
             |FROM ranked WHERE r <= 4 GROUP BY doc_id
             |ORDER BY doc_id""".stripMargin)),

    // --- Character-trigram Jaccard near-dups with (lang, length-band)
    //     blocking — the exact character-level dedup variant.
    QueryDef(
      "q51_chargram_jaccard",
      (s, dir) => TextAnalysis.charGramJaccardPairs(Tables(s, dir, "documents")),
      Some("""WITH grams AS (
             |  SELECT DISTINCT doc_id, lang, n_chars // 100 AS len_band,
             |         substr(lower(text), CAST(i AS INT), 3) AS g
             |  FROM documents
             |  CROSS JOIN (SELECT unnest(range(1, 2000)) AS i)
             |  WHERE i <= length(text) - 2
             |),
             |cnt AS (SELECT doc_id, COUNT(*) AS n FROM grams GROUP BY doc_id),
             |blocks AS (SELECT DISTINCT doc_id, lang, len_band FROM grams),
             |cand AS (
             |  SELECT b1.doc_id AS a, b2.doc_id AS b
             |  FROM blocks b1 JOIN blocks b2
             |    ON b1.lang = b2.lang AND b1.len_band = b2.len_band
             |   AND b1.doc_id < b2.doc_id
             |),
             |inter AS (
             |  SELECT c.a, c.b, COUNT(*) AS i
             |  FROM cand c
             |  JOIN grams g1 ON g1.doc_id = c.a
             |  JOIN grams g2 ON g2.doc_id = c.b AND g2.g = g1.g
             |  GROUP BY c.a, c.b
             |)
             |SELECT i.a, i.b, CAST(i.i AS DOUBLE) / (ca.n + cb.n - i.i) AS jaccard
             |FROM inter i JOIN cnt ca ON ca.doc_id = i.a
             |             JOIN cnt cb ON cb.doc_id = i.b
             |WHERE CAST(i.i AS DOUBLE) / (ca.n + cb.n - i.i) >= 0.7
             |ORDER BY a, b""".stripMargin)),

    // --- Materialized deduplicated corpus (keep-one representative).
    QueryDef(
      "q49_dedup_corpus",
      (s, dir) => TextAnalysis.dedupedCorpus(Tables(s, dir, "documents")),
      Some("""SELECT doc_id, lang, source, n_chars FROM (
             |  SELECT doc_id, lang, source, n_chars,
             |         ROW_NUMBER() OVER (PARTITION BY md5(text)
             |           ORDER BY doc_id) AS rn
             |  FROM documents) x
             |WHERE rn = 1 ORDER BY doc_id""".stripMargin)),

    // --- Deterministic content-stable train/val/test split (90/5/5 by
    //     md5(doc_id) bucket).
    QueryDef(
      "q50_train_split",
      (s, dir) => TextAnalysis.trainSplit(Tables(s, dir, "documents")),
      Some(s"""WITH b AS (
             |  SELECT doc_id,
             |         ${graft.operators.Dedup.hexToLongSql("md5(CAST(doc_id AS VARCHAR))", 1, "strpos")} % 100 AS bucket
             |  FROM documents
             |)
             |SELECT CASE WHEN bucket < 90 THEN 'train'
             |            WHEN bucket < 95 THEN 'val'
             |            ELSE 'test' END AS split,
             |       COUNT(*) AS n_docs, MIN(doc_id) AS min_id,
             |       MAX(doc_id) AS max_id
             |FROM b GROUP BY 1 ORDER BY split""".stripMargin)),

    // --- Multimodal: binary-column decode → feature extraction over a
    //     REAL format: per doc, pixels with a known generating formula
    //     are encoded to actual PNG bytes and decoded back through the
    //     pure-JDK javax.imageio codec; the oracle recomputes the
    //     features from the formula, so a broken encode/decode flips the
    //     hash. Audio decodes real WAV (q40) and video real GVID+PNG
    //     frames (q54) — no stub decode remains anywhere.
    QueryDef(
      "q39_media_features",
      (s, dir) => MediaPipeline.pngFeatureTable(Tables(s, dir, "documents")),
      Some {
        val buckets = (0 until 16).map(k =>
          s"CAST(CAST(SUM(CASE WHEN b // 16 = $k THEN 1 ELSE 0 END) AS BIGINT) AS VARCHAR)")
          .mkString(",\n             |         ")
        s"""WITH px AS (
           |  SELECT d.doc_id,
           |         CAST(16 + (d.doc_id % 4) * 8 AS BIGINT) AS width,
           |         CAST(16 + (d.doc_id % 3) * 8 AS BIGINT) AS height,
           |         (d.doc_id * 31 + g.i * 7) % 256 AS b
           |  FROM documents d, generate_series(0, 1279) AS g(i)
           |  WHERE g.i < (16 + (d.doc_id % 4) * 8) * (16 + (d.doc_id % 3) * 8)
           |)
           |SELECT doc_id AS media_id, width, height,
           |       CAST(COUNT(*) AS BIGINT) AS n_pixels,
           |       CAST(SUM(b) AS BIGINT) AS sum_byte,
           |       CONCAT_WS('|',
           |         $buckets) AS hist
           |FROM px GROUP BY doc_id, width, height ORDER BY media_id""".stripMargin
      }),

    // --- Multimodal audio: binary-column decode over a REAL format —
    //     per doc, 16-bit PCM samples with a known generating formula
    //     are encoded to actual WAV bytes (RIFF container) and decoded
    //     back through the pure-JDK javax.sound.sampled codec; the
    //     oracle recomputes the integer features from the formula, so a
    //     broken encode/decode flips the hash.
    QueryDef(
      "q40_audio_features",
      (s, dir) => MediaPipeline.wavFeatureTable(Tables(s, dir, "documents")),
      Some {
        val buckets = (0 until 16).map(k =>
          s"CAST(CAST(SUM(CASE WHEN (s + 32768) // 4096 = $k THEN 1 ELSE 0 END) AS BIGINT) AS VARCHAR)")
          .mkString(",\n             |         ")
        s"""WITH sm AS (
           |  SELECT d.doc_id,
           |         ((d.doc_id * 37 + g.i * 11) % 65536) - 32768 AS s
           |  FROM documents d, generate_series(0, 895) AS g(i)
           |  WHERE g.i < 512 + (d.doc_id % 4) * 128
           |)
           |SELECT doc_id AS media_id,
           |       CAST(8000 AS BIGINT) AS sample_rate,
           |       CAST(COUNT(*) AS BIGINT) AS n_samples,
           |       CAST(SUM(s) AS BIGINT) AS sum_sample,
           |       CAST(SUM(ABS(s)) AS BIGINT) AS sum_abs,
           |       CAST(MAX(ABS(s)) AS BIGINT) AS max_abs,
           |       CONCAT_WS('|',
           |         $buckets) AS hist
           |FROM sm GROUP BY doc_id ORDER BY media_id""".stripMargin
      }),

    // --- Multimodal image resize: real PNG encode → real decode → REAL
    //     nearest-neighbor ÷2 downsample over the raster → integer
    //     features. The oracle recomputes each resized pixel from the
    //     generating formula at the strided source index
    //     (src = 2y·w + 2x), so a broken decode OR resize flips the
    //     hash.
    QueryDef(
      "q53_resize_features",
      (s, dir) =>
        MediaPipeline.resizedPngFeatureTable(Tables(s, dir, "documents")),
      Some {
        val buckets = (0 until 16).map(j =>
          s"CAST(CAST(SUM(CASE WHEN b // 16 = $j THEN 1 ELSE 0 END) AS BIGINT) AS VARCHAR)")
          .mkString(",\n             |         ")
        s"""WITH px AS (
           |  SELECT d.doc_id,
           |         (16 + (d.doc_id % 4) * 8) AS w,
           |         (16 + (d.doc_id % 4) * 8) // 2 AS w2,
           |         (16 + (d.doc_id % 3) * 8) // 2 AS h2,
           |         g.i
           |  FROM documents d, generate_series(0, 319) AS g(i)
           |  WHERE g.i < ((16 + (d.doc_id % 4) * 8) // 2)
           |             * ((16 + (d.doc_id % 3) * 8) // 2)
           |),
           |pb AS (
           |  SELECT doc_id, w2, h2,
           |         (doc_id * 31
           |          + ((i // w2) * 2 * w + (i % w2) * 2) * 7) % 256 AS b
           |  FROM px
           |)
           |SELECT doc_id AS media_id,
           |       CAST(w2 AS BIGINT) AS width, CAST(h2 AS BIGINT) AS height,
           |       CAST(COUNT(*) AS BIGINT) AS n_pixels,
           |       CAST(SUM(b) AS BIGINT) AS sum_byte,
           |       CONCAT_WS('|',
           |         $buckets) AS hist
           |FROM pb GROUP BY doc_id, w2, h2 ORDER BY media_id""".stripMargin
      }),

    // --- Multimodal video: REAL container demux + frame sampling +
    //     per-frame PNG decode. Each doc becomes a GVID container
    //     (magic, dims, frame count, length-prefixed REAL PNG frames);
    //     the engine demuxes, samples every 2nd frame BEFORE decoding
    //     (skipped frames never hit the decoder), decodes the sampled
    //     frames through javax.imageio, and aggregates integer features.
    //     The oracle recomputes every sampled pixel from the generating
    //     formula gray(f,i) = (doc_id*31 + f*13 + i*7) % 256, so a broken
    //     demux, a wrong sampling phase, or a broken frame decode all
    //     flip the hash. Only the container format is ours (real codecs
    //     need native libs); demux/sample/decode plumbing is real.
    QueryDef(
      "q54_video_frames",
      (s, dir) =>
        MediaPipeline.videoFeatureTable(Tables(s, dir, "documents")),
      Some {
        val buckets = (0 until 16).map(j =>
          s"CAST(CAST(SUM(CASE WHEN b // 16 = $j THEN 1 ELSE 0 END) AS BIGINT) AS VARCHAR)")
          .mkString(",\n             |         ")
        s"""WITH v AS (
           |  SELECT d.doc_id,
           |         (8 + (d.doc_id % 2) * 8) AS w,
           |         (8 + (d.doc_id % 3) * 4) AS h,
           |         (6 + (d.doc_id % 5)) AS nf
           |  FROM documents d
           |),
           |fr AS (
           |  SELECT v.doc_id, v.w, v.h, v.nf, g.f
           |  FROM v, generate_series(0, 9) AS g(f)
           |  WHERE g.f < v.nf AND g.f % 2 = 0
           |),
           |px AS (
           |  SELECT fr.doc_id, fr.w, fr.h, fr.nf, fr.f,
           |         (fr.doc_id * 31 + fr.f * 13 + g.i * 7) % 256 AS b
           |  FROM fr, generate_series(0, 255) AS g(i)
           |  WHERE g.i < fr.w * fr.h
           |)
           |SELECT doc_id AS media_id,
           |       CAST(w AS BIGINT) AS width,
           |       CAST(h AS BIGINT) AS height,
           |       CAST(nf AS BIGINT) AS n_frames,
           |       CAST(COUNT(DISTINCT f) AS BIGINT) AS n_sampled,
           |       CAST(SUM(b) AS BIGINT) AS sum_byte,
           |       CONCAT_WS('|',
           |         $buckets) AS hist
           |FROM px GROUP BY doc_id, w, h, nf ORDER BY media_id""".stripMargin
      }),

    // --- PII redaction: scrub emails / phone numbers / IPv4 literals to
    //     typed placeholders and count removals. The documents table has
    //     no natural PII (verified), so the gate appends deterministic
    //     synthetic PII — identical string construction in both engines —
    //     then both run the SAME conservative patterns (Java regex and
    //     RE2 agree on them by construction; see TextAnalysis). A
    //     divergence in regex semantics, replacement order, or counting
    //     flips the hash on the full redacted text.
    QueryDef(
      "q55_pii_redact",
      (s, dir) => TextAnalysis.redactPii(
        piiAugmented(Tables(s, dir, "documents")), "text2"),
      Some(
        s"""WITH $PiiAugCte
           |SELECT doc_id,
           |       CAST(len(regexp_extract_all(text2, '${TextAnalysis.EmailPattern}')) AS BIGINT) AS n_emails,
           |       CAST(len(regexp_extract_all(text2, '${TextAnalysis.PhonePattern}')) AS BIGINT) AS n_phones,
           |       CAST(len(regexp_extract_all(text2, '${TextAnalysis.Ipv4Pattern}')) AS BIGINT) AS n_ips,
           |       regexp_replace(
           |         regexp_replace(
           |           regexp_replace(text2, '${TextAnalysis.EmailPattern}', '[EMAIL]', 'g'),
           |           '${TextAnalysis.PhonePattern}', '[PHONE]', 'g'),
           |         '${TextAnalysis.Ipv4Pattern}', '[IP]', 'g') AS redacted
           |FROM aug ORDER BY doc_id""".stripMargin)),

    // --- Sequence packing: concatenate-then-chunk assignment of docs to
    //     fixed token budgets, sharded by content-stable md5 bucket so
    //     shards pack independently (the 100 TB layout), within-shard
    //     offset via partitioned window cumsum. Oracle mirrors the exact
    //     same shard arithmetic, token count, window frame, and integer
    //     division, so any drift in the assignment flips the hash.
    QueryDef(
      "q56_seq_pack",
      (s, dir) =>
        TextAnalysis.packSequences(Tables(s, dir, "documents"),
          budget = 512, shards = 8),
      Some(s"""WITH t AS (
             |  SELECT doc_id,
             |         ${graft.operators.Dedup.hexToLongSql("md5(CAST(doc_id AS VARCHAR))", 1, "strpos")} % 8 AS shard,
             |         CAST(len(list_filter(string_split(lower(text), ' '),
             |              t -> t <> '')) AS BIGINT) AS n_tokens
             |  FROM documents
             |),
             |c AS (
             |  SELECT doc_id, shard, n_tokens,
             |         CAST(COALESCE(SUM(n_tokens) OVER (
             |           PARTITION BY shard ORDER BY doc_id
             |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
             |           0) AS BIGINT) AS cum_before
             |  FROM t
             |)
             |SELECT shard, cum_before // 512 AS seq_in_shard,
             |       CAST(COUNT(*) AS BIGINT) AS n_docs,
             |       CAST(SUM(n_tokens) AS BIGINT) AS seq_tokens,
             |       MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
             |FROM c GROUP BY 1, 2
             |ORDER BY shard, seq_in_shard""".stripMargin)),

    // --- Decontamination: training docs sharing a word 3-gram with the
    //     benchmark subset (doc_id % 97 = 0 stands in for an external
    //     eval suite). Benchmark shingles broadcast — real benchmark
    //     suites are fixed-size regardless of corpus scale, so the sweep
    //     is one corpus scan + a map-side probe, no corpus-sized
    //     shuffle.
    QueryDef(
      "q57_decontaminate",
      (s, dir) =>
        TextAnalysis.contaminated(Tables(s, dir, "documents"),
          col("doc_id") % 97 === 0),
      Some(s"""WITH $ShinglesCte,
             |bench AS (
             |  SELECT doc_id AS bench_id FROM documents WHERE doc_id % 97 = 0
             |),
             |bsh AS (
             |  SELECT s.shingle, b.bench_id
             |  FROM sh s JOIN bench b ON s.doc_id = b.bench_id
             |),
             |tsh AS (
             |  SELECT s.doc_id, s.shingle FROM sh s WHERE s.doc_id % 97 <> 0
             |)
             |SELECT t.doc_id,
             |       CAST(COUNT(DISTINCT t.shingle) AS BIGINT) AS n_shared_shingles,
             |       CAST(COUNT(DISTINCT b.bench_id) AS BIGINT) AS n_benchmarks_hit
             |FROM tsh t JOIN bsh b ON t.shingle = b.shingle
             |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin)),

    // --- Repetition quality filter (Gopher-style): duplicate-bigram
    //     fraction per doc with the classic 0.2 flag threshold. The
    //     fraction is one division of exact integers → bit-identical.
    QueryDef(
      "q58_repetition",
      (s, dir) => TextAnalysis.repetition(Tables(s, dir, "documents")),
      Some("""WITH toks AS (
             |  SELECT doc_id,
             |         list_filter(string_split(lower(text), ' '), t -> t <> '') AS w
             |  FROM documents
             |),
             |bi AS (
             |  SELECT doc_id,
             |         unnest(list_transform(range(1, len(w)),
             |                i -> array_to_string(w[i:i+1], ' '))) AS bigram
             |  FROM toks WHERE len(w) >= 2
             |),
             |cnt AS (
             |  SELECT doc_id, bigram, COUNT(*) AS n FROM bi GROUP BY doc_id, bigram
             |)
             |SELECT doc_id,
             |       CAST(SUM(n) AS BIGINT) AS n_bigrams,
             |       CAST(COUNT(*) AS BIGINT) AS n_distinct_bigrams,
             |       CAST(MAX(n) AS BIGINT) AS top_bigram_n,
             |       CAST(SUM(n) - COUNT(*) AS DOUBLE) / CAST(SUM(n) AS BIGINT) AS dup_bigram_frac,
             |       CASE WHEN CAST(SUM(n) - COUNT(*) AS DOUBLE) / CAST(SUM(n) AS BIGINT) > 0.2
             |            THEN 'repetitive' ELSE 'ok' END AS flag
             |FROM cnt GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // --- Near-dup clusters: connected components over the q32 pair
    //     graph via distributed min-label propagation, labeled by the
    //     component min doc_id. The oracle computes the same components
    //     with a recursive-CTE reachability closure — an entirely
    //     different algorithm, so agreement pins the clustering itself,
    //     not the implementation.
    QueryDef(
      "q59_near_dup_clusters",
      (s, dir) => Dedup.nearDupClusters(Tables(s, dir, "documents")),
      Some(s"""WITH RECURSIVE $ClustersCte
             |SELECT l.doc_id, l.cluster, s.cluster_size
             |FROM lab l JOIN sz s USING (cluster)
             |ORDER BY doc_id""".stripMargin)),

    // --- Int8 embedding quantization: per-vector symmetric scale,
    //     round-half-up codes, exact-integer reconstruction error. The
    //     scale is one float-derived double division and every other
    //     number is an exact integer, so the hash pins the quantizer
    //     bit-for-bit across engines.
    QueryDef(
      "q60_quantize_int8",
      (s, dir) => Similarity.quantizeInt8(Tables(s, dir, "embeddings")),
      Some("""WITH b AS (
             |  SELECT vec_id, CAST(len(embedding) AS BIGINT) AS n_dims,
             |         CAST(list_max(list_transform(embedding, x -> abs(x)))
             |              AS DOUBLE) / 127 AS scale
             |  FROM embeddings
             |),
             |ev AS (
             |  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x
             |  FROM embeddings
             |),
             |q AS (
             |  SELECT e.vec_id, e.x, b.scale,
             |         CASE WHEN b.scale = 0 THEN CAST(0 AS BIGINT)
             |              ELSE CAST(FLOOR(e.x / b.scale + 0.5) AS BIGINT)
             |         END AS qv
             |  FROM ev e JOIN b USING (vec_id)
             |)
             |SELECT q.vec_id, b.n_dims, b.scale,
             |       CAST(SUM(q.qv) AS BIGINT) AS sum_q,
             |       CAST(MAX(q.qv) AS BIGINT) AS max_q,
             |       CAST(SUM(CAST(FLOOR((q.x - q.qv * q.scale)
             |                         * (q.x - q.qv * q.scale)
             |                         * 1e12 + 0.5) AS BIGINT)) AS BIGINT)
             |         AS recon_err_pico
             |FROM q JOIN b ON b.vec_id = q.vec_id
             |GROUP BY q.vec_id, b.n_dims, b.scale
             |ORDER BY q.vec_id""".stripMargin)),

    // --- Document chunking with overlap: 64-token windows advancing by
    //     48, final chunk guaranteed to contribute new tokens. The hash
    //     covers the emitted chunk text, so boundary arithmetic drift
    //     in either engine flips it.
    QueryDef(
      "q61_chunk_overlap",
      (s, dir) =>
        TextAnalysis.chunkDocuments(Tables(s, dir, "documents"),
          chunkTokens = 64, overlap = 16),
      Some("""WITH toks AS (
             |  SELECT doc_id,
             |         list_filter(string_split(lower(text), ' '), t -> t <> '') AS w
             |  FROM documents
             |),
             |idx AS (
             |  SELECT doc_id, w,
             |         unnest(generate_series(0,
             |           GREATEST(CAST(CEIL((len(w) - 16) / 48.0) AS INT), 1) - 1))
             |           AS chunk_idx
             |  FROM toks WHERE len(w) > 0
             |)
             |SELECT doc_id,
             |       CAST(chunk_idx AS BIGINT) AS chunk_idx,
             |       CAST(chunk_idx * 48 AS BIGINT) AS start_tok,
             |       CAST(LEAST(64, len(w) - chunk_idx * 48) AS BIGINT) AS n_toks,
             |       array_to_string(w[chunk_idx * 48 + 1 : chunk_idx * 48 + 64], ' ')
             |         AS chunk_text
             |FROM idx ORDER BY doc_id, chunk_idx""".stripMargin)),

    // --- Vocabulary construction: corpus-wide token cf/df, top-k by
    //     frequency with a lexicographic tiebreak so the cut is exact.
    QueryDef(
      "q62_vocabulary",
      (s, dir) =>
        TextAnalysis.vocabulary(Tables(s, dir, "documents"), topK = 200),
      Some("""WITH tok AS (
             |  SELECT doc_id,
             |         unnest(list_filter(string_split(lower(text), ' '),
             |                t -> t <> '')) AS token
             |  FROM documents
             |)
             |SELECT token,
             |       CAST(COUNT(*) AS BIGINT) AS cf,
             |       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
             |FROM tok GROUP BY token
             |ORDER BY cf DESC, token LIMIT 200""".stripMargin)),

    // --- Funnel analysis: users completing view → click → purchase in
    //     strict event-time order. Each engine compares timestamps in
    //     its own domain (Spark raw nanos longs, DuckDB TIMESTAMP_NS) —
    //     the emitted counts are domain-independent.
    QueryDef(
      "q63_funnel",
      (s, dir) => EventFunnel.funnel(graft.Tables(s, dir, "events")),
      Some("""WITH v AS (
             |  SELECT user_id, MIN(ts) AS t1 FROM events
             |  WHERE event_type = 'view' GROUP BY user_id
             |),
             |c AS (
             |  SELECT e.user_id, MIN(e.ts) AS t2
             |  FROM events e JOIN v ON e.user_id = v.user_id
             |  WHERE e.event_type = 'click' AND e.ts > v.t1
             |  GROUP BY e.user_id
             |),
             |p AS (
             |  SELECT e.user_id, MIN(e.ts) AS t3
             |  FROM events e JOIN c ON e.user_id = c.user_id
             |  WHERE e.event_type = 'purchase' AND e.ts > c.t2
             |  GROUP BY e.user_id
             |)
             |SELECT * FROM (
             |  SELECT 'step1_view' AS step,
             |         CAST((SELECT COUNT(*) FROM v) AS BIGINT) AS n_users
             |  UNION ALL
             |  SELECT 'step2_click', CAST((SELECT COUNT(*) FROM c) AS BIGINT)
             |  UNION ALL
             |  SELECT 'step3_purchase', CAST((SELECT COUNT(*) FROM p) AS BIGINT)
             |) ORDER BY step""".stripMargin)),

    // --- Cohort retention triangle: absolute epoch weeks (no global-min
    //     gate), per-user first week, distinct active users per
    //     (cohort, offset). Spark derives weeks from raw nanos, the
    //     oracle from EPOCH(ts) — same integer weeks.
    QueryDef(
      "q64_retention",
      (s, dir) => EventFunnel.retention(graft.Tables(s, dir, "events")),
      Some("""WITH uw AS (
             |  SELECT DISTINCT user_id,
             |         CAST(FLOOR(EPOCH(ts)) AS BIGINT) // 604800 AS wk
             |  FROM events
             |),
             |cohort AS (
             |  SELECT user_id, MIN(wk) AS cohort_week FROM uw GROUP BY user_id
             |)
             |SELECT c.cohort_week, u.wk - c.cohort_week AS "offset",
             |       CAST(COUNT(DISTINCT u.user_id) AS BIGINT) AS n_active
             |FROM uw u JOIN cohort c ON u.user_id = c.user_id
             |WHERE u.wk - c.cohort_week BETWEEN 0 AND 3
             |GROUP BY 1, 2 ORDER BY cohort_week, "offset"""".stripMargin)),

    // --- IVF with a TRAINED coarse quantizer: deterministic Lloyd
    //     k-means (md5-ordered sample + seed, fixed 2 iterations, exact
    //     quantized arithmetic) and nprobe=2 multi-probe search. The
    //     oracle replays the training statement-for-statement, so the
    //     hash pins the whole path: sampling, init, both iterations,
    //     corpus assignment, probing, and the final exact rerank.
    QueryDef(
      "q52_ivf_trained",
      (s, dir) => Similarity.trainedIvfTopK(Tables(s, dir, "embeddings")),
      Some(TrainedIvfOracle)),

    // --- BPE pair counting: the inner loop of tokenizer training —
    //     corpus-wide adjacent-token-pair counts, exact top-k via a
    //     total (n DESC, a, b) order.
    QueryDef(
      "q65_bpe_pairs",
      (s, dir) => TextAnalysis.bpePairs(Tables(s, dir, "documents")),
      Some("""WITH toks AS (
             |  SELECT list_filter(string_split(lower(text), ' '),
             |         t -> t <> '') AS w
             |  FROM documents
             |),
             |pr AS (
             |  SELECT unnest(list_transform(range(1, greatest(len(w), 1)),
             |         i -> {'a': w[i], 'b': w[i+1]})) AS p
             |  FROM toks
             |)
             |SELECT p.a AS a, p.b AS b, COUNT(*) AS n
             |FROM pr GROUP BY p.a, p.b
             |ORDER BY n DESC, a, b LIMIT 50""".stripMargin)),

    // --- Deterministic stratified sampling: md5-bucketed per-language
    //     keep-rates (en 10%, others 30%) — content-stable, RNG-free,
    //     reproducible on any engine at any parallelism.
    QueryDef(
      "q66_stratified_sample",
      (s, dir) => TextAnalysis.stratifiedSample(Tables(s, dir, "documents")),
      Some(s"""WITH b AS (
             |  SELECT doc_id, lang,
             |         ${Dedup.hexToLongSql(
                 "md5('s:' || CAST(doc_id AS VARCHAR))", 1, "strpos")} % 100
             |           AS bucket
             |  FROM documents
             |)
             |SELECT doc_id, lang, bucket FROM b
             |WHERE bucket < CASE WHEN lang = 'en' THEN 10 ELSE 30 END
             |ORDER BY doc_id""".stripMargin)),

    // --- Markov transition matrix over per-user event sequences:
    //     consecutive-pair counts + P(to | from), single user_id window
    //     then a constant-size aggregate.
    QueryDef(
      "q67_transitions",
      (s, dir) => EventFunnel.transitions(graft.Tables(s, dir, "events")),
      Some("""WITH seq AS (
             |  SELECT user_id, event_type,
             |         LEAD(event_type) OVER (PARTITION BY user_id
             |              ORDER BY ts, event_id) AS to_type
             |  FROM events
             |),
             |c AS (
             |  SELECT event_type AS from_type, to_type, COUNT(*) AS n
             |  FROM seq WHERE to_type IS NOT NULL GROUP BY 1, 2
             |)
             |SELECT from_type, to_type, n,
             |       CAST(n AS DOUBLE) / CAST(SUM(n) OVER (
             |            PARTITION BY from_type) AS DOUBLE) AS p
             |FROM c ORDER BY from_type, to_type""".stripMargin)),

    // --- Containment near-dup: asymmetric |A∩B|/|A| pairs (a doc
    //     embedded in a larger one), df-capped inverted-index candidates
    //     + exact verification over full shingle sets.
    QueryDef(
      "q68_containment",
      (s, dir) => Dedup.containmentPairs(Tables(s, dir, "documents")),
      Some(s"""WITH $ShinglesCte,
             |dfs AS (
             |  SELECT shingle FROM sh GROUP BY shingle
             |  HAVING COUNT(*) BETWEEN 2 AND 20
             |),
             |rare AS (SELECT s.doc_id, s.shingle FROM sh s
             |         JOIN dfs USING (shingle)),
             |cand AS (
             |  SELECT DISTINCT r1.doc_id AS a, r2.doc_id AS b
             |  FROM rare r1 JOIN rare r2 ON r1.shingle = r2.shingle
             |   AND r1.doc_id <> r2.doc_id
             |),
             |cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
             |inter AS (
             |  SELECT c.a, c.b, COUNT(*) AS i
             |  FROM cand c
             |  JOIN sh sa ON sa.doc_id = c.a
             |  JOIN sh sb ON sb.doc_id = c.b AND sb.shingle = sa.shingle
             |  GROUP BY c.a, c.b
             |)
             |SELECT i.a, i.b, i.i,
             |       CAST(i.i AS DOUBLE) / ca.n AS containment
             |FROM inter i JOIN cnt ca ON ca.doc_id = i.a
             |WHERE CAST(i.i AS DOUBLE) / ca.n >= 0.8
             |ORDER BY a, b""".stripMargin)),

    // --- Bigram-vocabulary coverage: deterministic LM-quality proxy —
    //     share of each doc's bigrams inside the corpus top-200 bigram
    //     vocabulary (fixed-size, broadcastable).
    QueryDef(
      "q69_bigram_coverage",
      (s, dir) => TextAnalysis.bigramCoverage(Tables(s, dir, "documents")),
      Some("""WITH toks AS (
             |  SELECT doc_id, list_filter(string_split(lower(text), ' '),
             |         t -> t <> '') AS w
             |  FROM documents
             |),
             |pr AS (
             |  SELECT doc_id,
             |         unnest(list_transform(range(1, greatest(len(w), 1)),
             |         i -> {'a': w[i], 'b': w[i+1]})) AS p
             |  FROM toks
             |),
             |pairs AS (SELECT doc_id, p.a AS a, p.b AS b FROM pr),
             |vocab AS (
             |  SELECT a, b FROM (
             |    SELECT a, b, COUNT(*) AS n FROM pairs GROUP BY a, b
             |    ORDER BY n DESC, a, b LIMIT 200)
             |)
             |SELECT p.doc_id, COUNT(*) AS n_bigrams,
             |       CAST(SUM(CASE WHEN v.a IS NOT NULL THEN 1 ELSE 0 END)
             |            AS BIGINT) AS n_in_vocab,
             |       CAST(SUM(CASE WHEN v.a IS NOT NULL THEN 1 ELSE 0 END)
             |            AS DOUBLE) / COUNT(*) AS coverage
             |FROM pairs p LEFT JOIN vocab v ON v.a = p.a AND v.b = p.b
             |GROUP BY p.doc_id
             |ORDER BY doc_id""".stripMargin)),

    // --- Cross-source shingle overlap matrix: distinct 3-grams shared
    //     per source pair; postings bounded by |sources| after the
    //     DISTINCT, so the self-join cannot blow up.
    QueryDef(
      "q70_source_overlap",
      (s, dir) => TextAnalysis.sourceOverlap(Tables(s, dir, "documents")),
      Some(s"""WITH $ShinglesCte,
             |ss AS (
             |  SELECT DISTINCT d.source, s.shingle
             |  FROM sh s JOIN documents d ON d.doc_id = s.doc_id
             |)
             |SELECT x.source AS s1, y.source AS s2,
             |       COUNT(*) AS shared_shingles
             |FROM ss x JOIN ss y ON x.shingle = y.shingle
             | AND x.source < y.source
             |GROUP BY x.source, y.source
             |ORDER BY s1, s2""".stripMargin)),

    // --- Volume-anomaly days: exact-integer 1.15×-average threshold
    //     per event type; only the reported average is a float (single
    //     division).
    QueryDef(
      "q71_daily_anomaly",
      (s, dir) => EventFunnel.dailyAnomalies(Tables(s, dir, "events")),
      Some("""WITH daily AS (
             |  SELECT event_type,
             |         CAST(FLOOR(EPOCH(ts)) AS BIGINT) // 86400 AS day,
             |         COUNT(*) AS n
             |  FROM events GROUP BY 1, 2
             |),
             |stats AS (
             |  SELECT event_type, SUM(n) AS total, COUNT(*) AS n_days
             |  FROM daily GROUP BY 1
             |)
             |SELECT d.event_type, d.day, d.n,
             |       CAST(s.total AS DOUBLE) / s.n_days AS avg_daily
             |FROM daily d JOIN stats s ON s.event_type = d.event_type
             |WHERE d.n * s.n_days * 100 > 115 * s.total
             |ORDER BY d.event_type, day""".stripMargin)),

    // --- Fixed-quota stratified sample: exactly min(20, |stratum|)
    //     docs per language in content-stable md5 order.
    QueryDef(
      "q72_quota_sample",
      (s, dir) => TextAnalysis.quotaSample(Tables(s, dir, "documents")),
      Some(s"""WITH keyed AS (
             |  SELECT doc_id, lang,
             |         ${Dedup.hexToLongSql(
                 "md5('q:' || CAST(doc_id AS VARCHAR))", 1, "strpos")} AS k
             |  FROM documents
             |),
             |ranked AS (
             |  SELECT doc_id, lang,
             |         CAST(ROW_NUMBER() OVER (PARTITION BY lang
             |              ORDER BY k, doc_id) AS BIGINT) AS rk
             |  FROM keyed
             |)
             |SELECT doc_id, lang, rk FROM ranked WHERE rk <= 20
             |ORDER BY lang, rk""".stripMargin)),

    // --- Distinctive terms: per-doc top-3 rarest tokens by corpus df
    //     (df ASC, token ASC — exact total order; no transcendental
    //     TF-IDF log).
    QueryDef(
      "q73_rare_terms",
      (s, dir) => TextAnalysis.rareTerms(Tables(s, dir, "documents")),
      Some("""WITH tok AS (
             |  SELECT DISTINCT doc_id,
             |         unnest(list_filter(string_split(lower(text), ' '),
             |                t -> t <> '')) AS token
             |  FROM documents
             |),
             |dfs AS (SELECT token, COUNT(*) AS df FROM tok GROUP BY token),
             |ranked AS (
             |  SELECT t.doc_id, t.token, d.df,
             |         CAST(ROW_NUMBER() OVER (PARTITION BY t.doc_id
             |              ORDER BY d.df, t.token) AS BIGINT) AS rk
             |  FROM tok t JOIN dfs d ON d.token = t.token
             |)
             |SELECT doc_id, token, df, rk FROM ranked WHERE rk <= 3
             |ORDER BY doc_id, rk""".stripMargin)),

    // --- Hybrid retrieval: metadata filter (lang = 'en' semi-join)
    //     first, exact quantized-cosine top-3 within the survivors —
    //     the RAG-stack composition of the relational and vector
    //     surfaces.
    QueryDef(
      "q74_hybrid_search",
      (s, dir) => Similarity.hybridTopK(
        Tables(s, dir, "embeddings"), Tables(s, dir, "documents")),
      Some(s"""WITH $DimsCte,
             |dot AS (
             |  SELECT q.vec_id AS qid, t.vec_id AS tid,
             |         CAST(SUM(CAST(FLOOR(q.v * t.v * 1000000000000 + 0.5)
             |              AS BIGINT)) AS DOUBLE) / 1000000000000 AS d
             |  FROM dims q JOIN dims t ON q.i = t.i
             |   AND q.vec_id < 10 AND t.vec_id <> q.vec_id
             |  WHERE t.vec_id IN (SELECT e.vec_id FROM embeddings e
             |                     JOIN documents dd ON dd.doc_id = e.vec_id
             |                     WHERE dd.lang = 'en')
             |  GROUP BY q.vec_id, t.vec_id
             |),
             |scored AS (
             |  SELECT qid, tid, d / (sqrt(nq.n2) * sqrt(nt.n2)) AS cosine
             |  FROM dot JOIN norm nq ON nq.vec_id = qid
             |           JOIN norm nt ON nt.vec_id = tid
             |),
             |ranked AS (
             |  SELECT qid, tid, cosine,
             |         CAST(ROW_NUMBER() OVER (PARTITION BY qid
             |              ORDER BY cosine DESC, tid) AS BIGINT) AS rnk
             |  FROM scored
             |)
             |SELECT qid, tid, cosine, rnk FROM ranked WHERE rnk <= 3
             |ORDER BY qid, rnk""".stripMargin)),

    // --- Incremental-batch dedup status: docs with doc_id % 10 = 0
    //     play the daily increment, the rest the existing corpus; each
    //     batch doc classifies as exact_dup / near_dup / novel. The
    //     oracle computes signatures once over all docs and splits by
    //     the same predicate — identical per-doc values either way.
    QueryDef(
      "q77_incremental_dedup",
      (s, dir) => {
        val d = Tables(s, dir, "documents")
        Dedup.incrementalStatus(
          d.where(col("doc_id") % 10 === 0),
          d.where(col("doc_id") % 10 =!= 0))
      },
      Some(s"""WITH $MinhashCte,
             |fp AS (SELECT doc_id, md5(text) AS f FROM documents),
             |ex AS (
             |  SELECT DISTINCT b.doc_id FROM fp b JOIN fp e ON e.f = b.f
             |   AND b.doc_id % 10 = 0 AND e.doc_id % 10 <> 0
             |),
             |cand AS (
             |  SELECT DISTINCT b.doc_id, e.doc_id AS eid
             |  FROM mh b JOIN mh e ON b.band = e.band
             |   AND b.minhash = e.minhash
             |   AND b.doc_id % 10 = 0 AND e.doc_id % 10 <> 0
             |),
             |cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
             |nr AS (
             |  SELECT DISTINCT doc_id FROM (
             |    SELECT c.doc_id, c.eid, cb.n AS bn, ce.n AS en,
             |           COUNT(*) AS i
             |    FROM cand c
             |    JOIN sh s1 ON s1.doc_id = c.doc_id
             |    JOIN sh s2 ON s2.doc_id = c.eid AND s2.shingle = s1.shingle
             |    JOIN cnt cb ON cb.doc_id = c.doc_id
             |    JOIN cnt ce ON ce.doc_id = c.eid
             |    GROUP BY c.doc_id, c.eid, cb.n, ce.n
             |  ) v WHERE CAST(i AS DOUBLE) / (bn + en - i) >= 0.5
             |)
             |SELECT d.doc_id,
             |       CASE WHEN ex.doc_id IS NOT NULL THEN 'exact_dup'
             |            WHEN nr.doc_id IS NOT NULL THEN 'near_dup'
             |            ELSE 'novel' END AS status
             |FROM documents d
             |LEFT JOIN ex ON ex.doc_id = d.doc_id
             |LEFT JOIN nr ON nr.doc_id = d.doc_id
             |WHERE d.doc_id % 10 = 0
             |ORDER BY d.doc_id""".stripMargin)),

    // --- Corpus length-decile profile: NTILE over the total
    //     (n_chars, doc_id) order, ten-row report.
    QueryDef(
      "q78_length_deciles",
      (s, dir) => TextAnalysis.lengthDeciles(Tables(s, dir, "documents")),
      Some("""WITH d AS (
             |  SELECT doc_id, n_chars,
             |         CAST(NTILE(10) OVER (ORDER BY n_chars, doc_id)
             |              AS BIGINT) AS decile
             |  FROM documents
             |)
             |SELECT decile, COUNT(*) AS n_docs,
             |       MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars
             |FROM d GROUP BY decile ORDER BY decile""".stripMargin)),

    // --- Per-source exact-duplication report: the provenance signal
    //     that catches a mirrored source before near-dup work runs.
    QueryDef(
      "q79_dup_rate",
      (s, dir) => TextAnalysis.dupRateBySource(Tables(s, dir, "documents")),
      Some("""SELECT source, COUNT(text) AS n_docs,
             |       COUNT(*) - COUNT(text) AS n_null_text,
             |       COUNT(DISTINCT md5(text)) AS n_unique,
             |       CAST(COUNT(text) - COUNT(DISTINCT md5(text)) AS DOUBLE)
             |         / NULLIF(COUNT(text), 0) AS dup_rate
             |FROM documents GROUP BY source ORDER BY source""".stripMargin)),

    // --- Per-session feature rows (gap-threshold sessions): the table
    //     a behavioral model trains on; q22 reduces to counts, this
    //     emits the sessions.
    QueryDef(
      "q75_session_features",
      (s, dir) => EventFunnel.sessionFeatures(graft.Tables(s, dir, "events")),
      Some("""WITH e AS (
             |  SELECT user_id, event_id,
             |         CAST(FLOOR(EPOCH(ts)) AS BIGINT) AS sec, value
             |  FROM events
             |),
             |f AS (
             |  SELECT user_id, event_id, sec, value,
             |         CASE WHEN LAG(sec) OVER w IS NULL
             |                OR sec - LAG(sec) OVER w > 1800 THEN 1
             |              ELSE 0 END AS new_s
             |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY sec, event_id)
             |),
             |g AS (
             |  SELECT user_id, sec, value,
             |         CAST(SUM(new_s) OVER (PARTITION BY user_id
             |              ORDER BY sec, event_id
             |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |           AS BIGINT) AS session_id
             |  FROM f
             |)
             |SELECT user_id, session_id, COUNT(*) AS n_events,
             |       MAX(sec) - MIN(sec) AS duration_sec,
             |       CAST(SUM(CAST(FLOOR(value*100 + 0.5) AS BIGINT))
             |            AS DOUBLE)/100 AS value_sum
             |FROM g GROUP BY user_id, session_id
             |ORDER BY user_id, session_id""".stripMargin)),

    // --- Embedding QC report: per-label count, dim bounds, and
    //     min/max/mean squared norm from pico-quantized longs (single
    //     final division; DECIMAL/HUGEINT sum against wrap).
    QueryDef(
      "q76_embedding_qc",
      (s, dir) => Similarity.embeddingQc(Tables(s, dir, "embeddings")),
      Some("""WITH dims AS (
             |  SELECT vec_id, label, CAST(embedding[i] AS DOUBLE) AS v,
             |         len(embedding) AS d
             |  FROM embeddings
             |  CROSS JOIN (SELECT unnest(range(1, 65)) AS i)
             |),
             |q AS (
             |  SELECT vec_id, ANY_VALUE(label) AS label,
             |         CAST(ANY_VALUE(d) AS BIGINT) AS d,
             |         SUM(CAST(FLOOR(v * v * 1000000000000 + 0.5)
             |             AS BIGINT)) AS qn
             |  FROM dims GROUP BY vec_id
             |)
             |SELECT label, COUNT(*) AS n_vectors,
             |       MIN(d) AS min_dims, MAX(d) AS max_dims,
             |       CAST(MIN(qn) AS DOUBLE) / 1000000000000 AS min_norm2,
             |       CAST(MAX(qn) AS DOUBLE) / 1000000000000 AS max_norm2,
             |       CAST(SUM(qn) AS DOUBLE)
             |         / (1000000000000 * COUNT(*)) AS avg_norm2
             |FROM q GROUP BY label
             |ORDER BY label""".stripMargin)),

    // --- Cross-split contamination: exact-dup docs and shared shingles
    //     leaking from train into each eval split — the q57 shingle
    //     inventory applied to the corpus's OWN split boundary.
    QueryDef(
      "q80_split_contamination",
      (s, dir) =>
        TextAnalysis.splitContamination(Tables(s, dir, "documents")),
      Some(s"""WITH $ShinglesCte,
             |sp AS (
             |  SELECT doc_id,
             |         CASE WHEN b < 90 THEN 'train'
             |              WHEN b < 95 THEN 'val'
             |              ELSE 'test' END AS split
             |  FROM (SELECT doc_id,
             |          ${graft.operators.Dedup.hexToLongSql("md5(CAST(doc_id AS VARCHAR))", 1, "strpos")} % 100 AS b
             |        FROM documents)
             |),
             |ssh AS (
             |  SELECT DISTINCT sp.split, sh.shingle
             |  FROM sh JOIN sp ON sh.doc_id = sp.doc_id
             |),
             |tr AS (SELECT shingle FROM ssh WHERE split = 'train'),
             |ev AS (SELECT split, shingle FROM ssh WHERE split <> 'train'),
             |sht AS (SELECT split, COUNT(*) AS n_shingles
             |        FROM ev GROUP BY split),
             |shl AS (SELECT split, COUNT(*) AS n_leaked_shingles FROM ev
             |        WHERE shingle IN (SELECT shingle FROM tr)
             |        GROUP BY split),
             |h AS (SELECT sp.split, md5(d.text) AS h
             |      FROM documents d JOIN sp ON d.doc_id = sp.doc_id),
             |trh AS (SELECT DISTINCT h FROM h WHERE split = 'train'),
             |evh AS (SELECT split, h FROM h WHERE split <> 'train'),
             |dt AS (SELECT split, COUNT(*) AS n_docs FROM evh
             |       GROUP BY split),
             |dl AS (SELECT split, COUNT(*) AS n_exact_dup_docs FROM evh
             |       WHERE h IN (SELECT h FROM trh) GROUP BY split)
             |SELECT dt.split, dt.n_docs,
             |       COALESCE(dl.n_exact_dup_docs, 0) AS n_exact_dup_docs,
             |       COALESCE(sht.n_shingles, 0) AS n_shingles,
             |       COALESCE(shl.n_leaked_shingles, 0) AS n_leaked_shingles,
             |       CAST(COALESCE(shl.n_leaked_shingles, 0) AS DOUBLE)
             |         / NULLIF(COALESCE(sht.n_shingles, 0), 0) AS leak_frac
             |FROM dt
             |LEFT JOIN dl ON dt.split = dl.split
             |LEFT JOIN sht ON dt.split = sht.split
             |LEFT JOIN shl ON dt.split = shl.split
             |ORDER BY dt.split""".stripMargin)),

    // --- Per-language corpus profile: the language-mix table a
    //     multilingual run reads before setting sampling temperatures.
    QueryDef(
      "q81_lang_report",
      (s, dir) => TextAnalysis.langReport(Tables(s, dir, "documents")),
      Some("""WITH t AS (
             |  SELECT lang, source, n_chars,
             |         CAST(len(list_filter(string_split(lower(text), ' '),
             |              x -> x <> '')) AS BIGINT) AS n_tokens
             |  FROM documents
             |)
             |SELECT lang, COUNT(*) AS n_docs,
             |       CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
             |       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
             |       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
             |       CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars,
             |       CAST(SUM(n_tokens) AS DOUBLE) / COUNT(*) AS avg_tokens
             |FROM t GROUP BY lang ORDER BY lang""".stripMargin)),

    // --- Most-duplicated texts: exact-dup groups of 2+ ranked by copy
    //     count with a fingerprint tiebreak (total-ordered top-k). The
    //     synthetic corpus has no natural exact dups at sf<=0.01, so
    //     the gate unions a deterministic 'mirror' re-crawl of every
    //     9th doc (the q98 technique; every 3rd of those twice) —
    //     identical construction both sides, so the report exercises
    //     real rows AND distinct copy counts at every gate SF.
    QueryDef(
      "q82_top_duplicates",
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
        val mirror = docs.where(col("doc_id") % 9 === 0)
          .select((col("doc_id") + 2000000L).as("doc_id"), col("text"),
            col("lang"), lit("mirror").as("source"), col("n_chars"))
        val mirror2 = docs.where(col("doc_id") % 27 === 0)
          .select((col("doc_id") + 3000000L).as("doc_id"), col("text"),
            col("lang"), lit("mirror2").as("source"), col("n_chars"))
        TextAnalysis.topDuplicatedTexts(
          docs.unionByName(mirror).unionByName(mirror2))
      },
      Some("""WITH un AS (
             |  SELECT doc_id, text FROM documents
             |  UNION ALL
             |  SELECT doc_id + 2000000, text
             |  FROM documents WHERE doc_id % 9 = 0
             |  UNION ALL
             |  SELECT doc_id + 3000000, text
             |  FROM documents WHERE doc_id % 27 = 0
             |)
             |SELECT md5(text) AS fingerprint, COUNT(*) AS n_copies,
             |       MIN(doc_id) AS example_doc_id
             |FROM un GROUP BY md5(text) HAVING COUNT(*) >= 2
             |ORDER BY n_copies DESC, fingerprint LIMIT 20""".stripMargin)),

    // --- Shared boilerplate openings: dup groups keyed on the first
    //     100 chars — catches near-dups whose tails diverge (license
    //     headers, nav chrome). Non-empty at every gate SF even
    //     without q82's mirror union.
    QueryDef(
      "q83_top_duplicate_prefixes",
      (s, dir) =>
        TextAnalysis.topDuplicatedTexts(Tables(s, dir, "documents"),
          prefixLen = 100),
      Some("""SELECT md5(substr(text, 1, 100)) AS fingerprint,
             |       COUNT(*) AS n_copies, MIN(doc_id) AS example_doc_id
             |FROM documents GROUP BY md5(substr(text, 1, 100))
             |HAVING COUNT(*) >= 2
             |ORDER BY n_copies DESC, fingerprint LIMIT 20""".stripMargin)),

    // --- Temperature-scaled language sampling weights (alpha = 0.5):
    //     p_l ∝ sqrt(tokens_l), the standard low-resource up-weighting.
    //     sqrt weight quantized to micro-units so both totals are exact
    //     long sums and every double is a single division.
    QueryDef(
      "q84_sampling_weights",
      (s, dir) => TextAnalysis.samplingWeights(Tables(s, dir, "documents")),
      Some("""WITH per AS (
             |  SELECT lang, COUNT(*) AS n_docs,
             |         CAST(SUM(len(list_filter(string_split(lower(text), ' '),
             |              x -> x <> ''))) AS BIGINT) AS total_tokens
             |  FROM documents GROUP BY lang
             |),
             |w AS (
             |  SELECT lang, n_docs, total_tokens,
             |         CAST(floor(sqrt(CAST(total_tokens AS DOUBLE)) * 1000000.0
             |              + 0.5) AS BIGINT) AS w
             |  FROM per
             |),
             |tot AS (
             |  SELECT CAST(SUM(total_tokens) AS BIGINT) AS tok_sum,
             |         CAST(SUM(w) AS BIGINT) AS w_sum FROM w
             |)
             |SELECT lang, n_docs, total_tokens, w,
             |       CAST(total_tokens AS DOUBLE) / tok_sum AS token_share,
             |       CAST(w AS DOUBLE) / w_sum AS sample_prob,
             |       (CAST(w AS DOUBLE) / w_sum)
             |         / (CAST(total_tokens AS DOUBLE) / tok_sum) AS boost
             |FROM w CROSS JOIN tot ORDER BY lang""".stripMargin)),

    // --- Near-dup cluster size histogram over the q59 components; the
    //     oracle recomputes the clusters via recursive-CTE reachability
    //     (a different algorithm) and histograms them.
    QueryDef(
      "q85_cluster_size_histogram",
      (s, dir) =>
        Dedup.clusterSizeHistogram(Tables(s, dir, "documents")),
      Some(s"""WITH RECURSIVE $ClustersCte
             |SELECT cluster_size, COUNT(*) AS n_clusters,
             |       cluster_size * COUNT(*) AS n_docs
             |FROM sz GROUP BY cluster_size ORDER BY cluster_size""".stripMargin)),

    // --- MinHash estimator calibration: exact Jaccard distribution per
    //     shared-band count over all LSH candidate pairs (unthresholded
    //     q32 candidates); per-pair Jaccard quantized to micro-units so
    //     per-bucket stats are exact-long arithmetic.
    QueryDef(
      "q86_lsh_calibration",
      (s, dir) => Dedup.lshCalibration(Tables(s, dir, "documents")),
      Some(s"""WITH $MinhashCte,
             |cand AS (
             |  SELECT m1.doc_id AS a, m2.doc_id AS b,
             |         COUNT(*) AS shared_bands
             |  FROM mh m1 JOIN mh m2 ON m1.band = m2.band
             |   AND m1.minhash = m2.minhash AND m1.doc_id < m2.doc_id
             |  GROUP BY m1.doc_id, m2.doc_id
             |),
             |cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
             |inter AS (
             |  SELECT c.a, c.b, c.shared_bands, COUNT(*) AS i
             |  FROM cand c
             |  JOIN sh s1 ON s1.doc_id = c.a
             |  JOIN sh s2 ON s2.doc_id = c.b AND s2.shingle = s1.shingle
             |  GROUP BY c.a, c.b, c.shared_bands
             |),
             |jq AS (
             |  SELECT i.shared_bands,
             |         CAST(floor(CAST(i.i AS DOUBLE) / (ca.n + cb.n - i.i)
             |              * 1000000.0 + 0.5) AS BIGINT) AS jq
             |  FROM inter i JOIN cnt ca ON ca.doc_id = i.a
             |               JOIN cnt cb ON cb.doc_id = i.b
             |)
             |SELECT shared_bands, COUNT(*) AS n_pairs,
             |       CAST(SUM(jq) AS DOUBLE) / (1000000 * COUNT(*))
             |         AS avg_jaccard,
             |       CAST(MIN(jq) AS DOUBLE) / 1000000.0 AS min_jaccard,
             |       CAST(MAX(jq) AS DOUBLE) / 1000000.0 AS max_jaccard
             |FROM jq GROUP BY shared_bands ORDER BY shared_bands""".stripMargin)),

    // --- ANN recall report: per query, overlap between the exact
    //     cosine top-5 (q34) and the trained-IVF top-5 (q52) — the
    //     nprobe-tuning eval. The oracle replays BOTH searches and
    //     counts the intersection.
    QueryDef(
      "q87_ann_recall",
      (s, dir) => Similarity.recallReport(Tables(s, dir, "embeddings")),
      Some("WITH " + DimsCte + ",\n" + TrainedIvfChain + ",\n" +
        """edot AS (
          |  SELECT q.vec_id AS qid, t.vec_id AS tid,
          |         CAST(SUM(CAST(FLOOR(q.v * t.v * 1000000000000 + 0.5)
          |              AS BIGINT)) AS DOUBLE) / 1000000000000 AS d
          |  FROM dims q JOIN dims t ON q.i = t.i
          |   AND q.vec_id < 10 AND t.vec_id <> q.vec_id
          |  GROUP BY q.vec_id, t.vec_id
          |),
          |escored AS (
          |  SELECT qid, tid, d / (sqrt(nq.n2) * sqrt(nt.n2)) AS cosine
          |  FROM edot JOIN norm nq ON nq.vec_id = qid
          |            JOIN norm nt ON nt.vec_id = tid
          |),
          |eranked AS (
          |  SELECT qid, tid,
          |         CAST(ROW_NUMBER() OVER (PARTITION BY qid
          |              ORDER BY cosine DESC, tid) AS BIGINT) AS rnk
          |  FROM escored
          |),
          |ex AS (SELECT qid, tid FROM eranked WHERE rnk <= 5),
          |ap AS (SELECT qid, tid FROM ranked WHERE rnk <= 5),
          |hits AS (
          |  SELECT e.qid, COUNT(*) AS n_hits
          |  FROM ex e JOIN ap a ON a.qid = e.qid AND a.tid = e.tid
          |  GROUP BY e.qid),
          |tot AS (SELECT qid, COUNT(*) AS n_exact FROM ex GROUP BY qid)
          |SELECT t.qid, t.n_exact, COALESCE(h.n_hits, 0) AS n_hits,
          |       CAST(COALESCE(h.n_hits, 0) AS DOUBLE) / t.n_exact AS recall
          |FROM tot t LEFT JOIN hits h ON h.qid = t.qid
          |ORDER BY t.qid""".stripMargin)),

    // --- Vocabulary growth (Heaps'-law) curve over nested md5-bucket
    //     subsets: vocab/token/doc counts at 10/25/50/100% of the
    //     corpus from one pass.
    QueryDef(
      "q88_vocab_growth",
      (s, dir) => TextAnalysis.vocabGrowth(Tables(s, dir, "documents")),
      Some(s"""WITH base AS (
             |  SELECT ${graft.operators.Dedup.hexToLongSql(
                  "md5(CAST(doc_id AS VARCHAR))", 1, "strpos")} % 100 AS b,
             |         list_filter(string_split(lower(text), ' '),
             |                     x -> x <> '') AS w
             |  FROM documents
             |),
             |dl AS (SELECT b, CAST(len(w) AS BIGINT) AS n FROM base),
             |tk AS (SELECT b, unnest(w) AS token FROM base),
             |tm AS (SELECT token, MIN(b) AS mb FROM tk GROUP BY token),
             |u AS (SELECT unnest([10, 25, 50, 100]) AS pct),
             |d2 AS (
             |  SELECT u.pct, COUNT(*) AS n_docs,
             |         CAST(SUM(dl.n) AS BIGINT) AS n_tokens
             |  FROM u JOIN dl ON dl.b < u.pct GROUP BY u.pct),
             |v2 AS (
             |  SELECT u.pct, COUNT(*) AS vocab
             |  FROM u JOIN tm ON tm.mb < u.pct GROUP BY u.pct)
             |SELECT CAST(d2.pct AS BIGINT) AS pct, d2.n_docs, d2.n_tokens,
             |       v2.vocab,
             |       CAST(v2.vocab AS DOUBLE) / d2.n_tokens
             |         AS type_token_ratio
             |FROM d2 JOIN v2 USING (pct) ORDER BY pct""".stripMargin)),

    // --- Token-budget sampling plan: per-language planned tokens and
    //     implied epochs under the q84 temperature weights, for a 1e9
    //     token budget.
    QueryDef(
      "q89_token_budget_plan",
      (s, dir) => TextAnalysis.tokenBudgetPlan(Tables(s, dir, "documents")),
      Some("""WITH per AS (
             |  SELECT lang,
             |         CAST(SUM(len(list_filter(string_split(lower(text), ' '),
             |              x -> x <> ''))) AS BIGINT) AS total_tokens
             |  FROM documents GROUP BY lang
             |),
             |w AS (
             |  SELECT lang, total_tokens,
             |         CAST(floor(sqrt(CAST(total_tokens AS DOUBLE)) * 1000000.0
             |              + 0.5) AS BIGINT) AS w
             |  FROM per
             |),
             |tot AS (SELECT CAST(SUM(w) AS BIGINT) AS w_sum FROM w),
             |sw AS (
             |  SELECT lang, total_tokens,
             |         CAST(w AS DOUBLE) / w_sum AS sample_prob
             |  FROM w CROSS JOIN tot
             |)
             |SELECT lang, total_tokens, sample_prob,
             |       CAST(floor(sample_prob * 1000000000.0) AS BIGINT)
             |         AS planned_tokens,
             |       CAST(CAST(floor(sample_prob * 1000000000.0) AS BIGINT)
             |            AS DOUBLE) / total_tokens AS epochs
             |FROM sw ORDER BY lang""".stripMargin)),

    // --- Cluster representative selection (keep-best collapse): per
    //     clustered doc, the longest-copy representative (max n_chars,
    //     min doc_id tiebreak) and the keep/drop action — the survivor
    //     remap table downstream references are rewritten through. The
    //     oracle replays the clustering with the recursive-CTE closure
    //     and picks representatives with a window arg-max.
    QueryDef(
      "q90_cluster_reps",
      (s, dir) => Dedup.clusterRepresentatives(Tables(s, dir, "documents")),
      Some(s"""WITH RECURSIVE $ClustersCte,
             |rep AS (
             |  SELECT cluster, doc_id AS rep_doc_id
             |  FROM (SELECT l.cluster, l.doc_id,
             |               ROW_NUMBER() OVER (PARTITION BY l.cluster
             |                 ORDER BY d.n_chars DESC, l.doc_id) AS rn
             |        FROM lab l JOIN documents d USING (doc_id))
             |  WHERE rn = 1
             |)
             |SELECT l.doc_id, l.cluster, s.cluster_size, r.rep_doc_id,
             |       CASE WHEN l.doc_id = r.rep_doc_id THEN 'keep'
             |            ELSE 'drop' END AS action
             |FROM lab l JOIN sz s USING (cluster) JOIN rep r USING (cluster)
             |ORDER BY l.doc_id""".stripMargin)),

    // --- Label-centroid separability: cosine between every pair of
    //     per-label mean embeddings, all arithmetic exact-integer until
    //     the final sqrt/divide (per-row micro-quantization, integer
    //     centroid components, integer dot/norms).
    QueryDef(
      "q91_centroid_cosine",
      (s, dir) => Similarity.centroidCosine(Tables(s, dir, "embeddings")),
      Some("""WITH q AS (
             |  SELECT e.label, d.i AS dim,
             |         CAST(FLOOR(CAST(e.embedding[d.i] AS DOUBLE)
             |              * 1000000 + 0.5) AS BIGINT) AS qv
             |  FROM embeddings e
             |  CROSS JOIN (SELECT unnest(range(1, 65)) AS i) d
             |),
             |c AS (
             |  SELECT label, dim,
             |         CAST(FLOOR(CAST(CAST(SUM(qv) AS BIGINT) AS DOUBLE)
             |              / COUNT(*)) AS BIGINT) AS cq
             |  FROM q GROUP BY label, dim
             |),
             |n AS (
             |  SELECT label, CAST(SUM(cq * cq) AS BIGINT) AS nsq
             |  FROM c GROUP BY label
             |),
             |p AS (
             |  SELECT x.label AS label_a, y.label AS label_b,
             |         CAST(SUM(x.cq * y.cq) AS BIGINT) AS dot
             |  FROM c x JOIN c y ON y.dim = x.dim AND x.label < y.label
             |  GROUP BY x.label, y.label
             |)
             |SELECT p.label_a, p.label_b,
             |       CAST(p.dot AS DOUBLE)
             |         / (sqrt(CAST(na.nsq AS DOUBLE))
             |            * sqrt(CAST(nb.nsq AS DOUBLE))) AS centroid_cosine
             |FROM p JOIN n na ON na.label = p.label_a
             |       JOIN n nb ON nb.label = p.label_b
             |ORDER BY label_a, label_b""".stripMargin)),

    // --- Per-source OOV rate vs the corpus top-200 vocabulary (q62's
    //     total-ordered cut): tokenizer-coverage drift by provenance;
    //     exact-long counts, one division.
    QueryDef(
      "q92_oov_by_source",
      (s, dir) => TextAnalysis.oovBySource(Tables(s, dir, "documents")),
      Some("""WITH tok AS (
             |  SELECT source,
             |         unnest(list_filter(string_split(lower(text), ' '),
             |                t -> t <> '')) AS token
             |  FROM documents
             |),
             |v AS (
             |  SELECT token FROM (
             |    SELECT token, COUNT(*) AS cf FROM tok GROUP BY token
             |    ORDER BY cf DESC, token LIMIT 200)
             |)
             |SELECT t.source, CAST(COUNT(*) AS BIGINT) AS n_tokens,
             |       CAST(SUM(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END)
             |            AS BIGINT) AS n_oov,
             |       CAST(SUM(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END)
             |            AS DOUBLE) / COUNT(*) AS oov_rate
             |FROM tok t LEFT JOIN v ON v.token = t.token
             |GROUP BY t.source ORDER BY t.source""".stripMargin)),

    // --- Bigram-LM quality score (CCNet-style filter, rational form):
    //     mean conditional bigram probability under the corpus-trained
    //     model; p(b|a) micro-quantized at the model so no
    //     transcendental enters the hash.
    QueryDef(
      "q93_lm_quality",
      (s, dir) => TextAnalysis.lmQuality(Tables(s, dir, "documents")),
      Some("""WITH toks AS (
             |  SELECT doc_id, list_filter(string_split(lower(text), ' '),
             |         t -> t <> '') AS w
             |  FROM documents
             |),
             |pr AS (
             |  SELECT doc_id,
             |         unnest(list_transform(range(1, greatest(len(w), 1)),
             |         i -> {'a': w[i], 'b': w[i+1]})) AS p
             |  FROM toks
             |),
             |pairs AS (SELECT doc_id, p.a AS a, p.b AS b FROM pr),
             |cab AS (SELECT a, b, COUNT(*) AS cab FROM pairs GROUP BY a, b),
             |c1 AS (SELECT a, COUNT(*) AS c1 FROM pairs GROUP BY a),
             |model AS (
             |  SELECT cab.a, cab.b,
             |         CAST(FLOOR((CAST(cab.cab AS DOUBLE) / c1.c1)
             |              * 1000000 + 0.5) AS BIGINT) AS pq
             |  FROM cab JOIN c1 ON c1.a = cab.a
             |)
             |SELECT p.doc_id, COUNT(*) AS n_bigrams,
             |       CAST(SUM(m.pq) AS DOUBLE)
             |         / (COUNT(*) * 1000000) AS avg_p
             |FROM pairs p JOIN model m ON m.a = p.a AND m.b = p.b
             |GROUP BY p.doc_id
             |ORDER BY doc_id""".stripMargin)),

    // --- Salient terms per source: tf–idf with rational idf (n/df —
    //     log-free so the score is a deterministic function of exact
    //     integers); per-source top-5 under a total order.
    QueryDef(
      "q94_tfidf_terms",
      (s, dir) => TextAnalysis.tfidfBySource(Tables(s, dir, "documents")),
      Some("""WITH tok AS (
             |  SELECT doc_id, source,
             |         unnest(list_filter(string_split(lower(text), ' '),
             |                t -> t <> '')) AS term
             |  FROM documents
             |),
             |nd AS (SELECT COUNT(*) AS n_docs FROM documents),
             |df AS (
             |  SELECT term, COUNT(*) AS df
             |  FROM (SELECT DISTINCT doc_id, term FROM tok) GROUP BY term
             |),
             |tf AS (SELECT source, term, COUNT(*) AS tf
             |       FROM tok GROUP BY source, term),
             |st AS (SELECT source, COUNT(*) AS n_src_tokens
             |       FROM tok GROUP BY source),
             |scored AS (
             |  SELECT tf.source, tf.term, tf.tf, df.df,
             |         CAST(FLOOR(((CAST(tf.tf AS DOUBLE) / st.n_src_tokens)
             |              * (CAST(nd.n_docs AS DOUBLE) / df.df))
             |              * 1000000 + 0.5) AS BIGINT) AS tfidf_micro
             |  FROM tf JOIN df ON df.term = tf.term
             |          JOIN st ON st.source = tf.source
             |          CROSS JOIN nd
             |)
             |SELECT source, term, tf, df, tfidf_micro, rk FROM (
             |  SELECT source, term, tf, df, tfidf_micro,
             |         CAST(ROW_NUMBER() OVER (PARTITION BY source
             |              ORDER BY tfidf_micro DESC, term) AS BIGINT) AS rk
             |  FROM scored)
             |WHERE rk <= 5
             |ORDER BY source, rk""".stripMargin)),

    // --- One-row dataset card: release-readme numbers (doc/token/
    //     vocab counts, provenance breadth, exact-dup mass, mean doc
    //     length); exact longs + two single divisions.
    QueryDef(
      "q95_corpus_card",
      (s, dir) => TextAnalysis.corpusCard(Tables(s, dir, "documents")),
      Some("""WITH base AS (
             |  SELECT COUNT(*) AS n_docs,
             |         COUNT(DISTINCT md5(text)) AS n_distinct_texts,
             |         COUNT(DISTINCT lang) AS n_langs,
             |         COUNT(DISTINCT source) AS n_sources,
             |         CAST(SUM(n_chars) AS BIGINT) AS total_chars
             |  FROM documents
             |),
             |tok AS (
             |  SELECT unnest(list_filter(string_split(lower(text), ' '),
             |                t -> t <> '')) AS t
             |  FROM documents
             |),
             |ta AS (SELECT COUNT(*) AS n_tokens,
             |              COUNT(DISTINCT t) AS n_distinct_tokens FROM tok)
             |SELECT b.n_docs, ta.n_tokens, ta.n_distinct_tokens,
             |       b.n_langs, b.n_sources, b.total_chars,
             |       b.n_docs - b.n_distinct_texts AS n_dup_docs,
             |       CAST(b.n_docs - b.n_distinct_texts AS DOUBLE)
             |         / b.n_docs AS dup_rate,
             |       CAST(ta.n_tokens AS DOUBLE) / b.n_docs AS avg_doc_tokens
             |FROM base b CROSS JOIN ta""".stripMargin)),

    // --- Shuffle-key skew report: top-10 hottest event users with exact
    //     ppm shares and multiple-of-mean — the decision input for
    //     salting / AQE skew thresholds before a big join. One hash agg
    //     + TakeOrdered; the window runs over exactly k rows.
    QueryDef(
      "q96_heavy_hitters",
      (s, dir) => KeyStats.heavyHitters(Tables(s, dir, "events"),
        "user_id", k = 10),
      Some("""WITH c AS (
             |  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n
             |  FROM events GROUP BY user_id
             |),
             |t AS (SELECT CAST(SUM(n) AS BIGINT) AS total,
             |             CAST(COUNT(*) AS BIGINT) AS n_keys FROM c),
             |r AS (
             |  SELECT user_id, n,
             |         CAST(ROW_NUMBER() OVER (ORDER BY n DESC, user_id)
             |              AS BIGINT) AS rk,
             |         CAST(SUM(n) OVER (ORDER BY n DESC, user_id
             |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |              AS BIGINT) AS cum_n
             |  FROM c
             |)
             |SELECT r.user_id, r.n, r.rk,
             |       r.n * 1000000 // t.total AS share_ppm,
             |       r.cum_n * 1000000 // t.total AS cum_ppm,
             |       r.n * t.n_keys * 100 // t.total AS mean_mult_pct
             |FROM r CROSS JOIN t
             |WHERE r.rk <= 10
             |ORDER BY r.rk""".stripMargin)),

    // --- Per-source PII incidence (drift monitor): same patterns and
    //     synthetic augmentation as q55, aggregated per source with an
    //     exact-ppm docs-affected rate.
    QueryDef(
      "q97_pii_source_stats",
      (s, dir) => TextAnalysis.piiStatsBySource(
        piiAugmented(Tables(s, dir, "documents")), "text2"),
      Some(s"""WITH $PiiAugCte,
             |per AS (
             |  SELECT source,
             |         CAST(len(regexp_extract_all(text2, '${TextAnalysis.EmailPattern}')) AS BIGINT) AS e,
             |         CAST(len(regexp_extract_all(text2, '${TextAnalysis.PhonePattern}')) AS BIGINT) AS p,
             |         CAST(len(regexp_extract_all(text2, '${TextAnalysis.Ipv4Pattern}')) AS BIGINT) AS i
             |  FROM aug
             |),
             |agg AS (
             |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
             |         CAST(SUM(e) AS BIGINT) AS n_emails,
             |         CAST(SUM(p) AS BIGINT) AS n_phones,
             |         CAST(SUM(i) AS BIGINT) AS n_ips,
             |         CAST(SUM(CASE WHEN e + p + i > 0 THEN 1 ELSE 0 END)
             |              AS BIGINT) AS n_docs_with_pii
             |  FROM per GROUP BY source
             |)
             |SELECT source, n_docs, n_emails, n_phones, n_ips,
             |       n_docs_with_pii,
             |       n_docs_with_pii * 1000000 // n_docs AS pii_ppm
             |FROM agg ORDER BY source""".stripMargin)),

    // --- Metadata conflicts among exact duplicates: duplicate groups
    //     disagreeing on source/lang, where "keep the representative"
    //     would silently discard provenance. The corpus has no natural
    //     cross-source dups, so the gate unions a deterministic 'mirror'
    //     re-crawl of every 7th doc — identical construction both sides.
    QueryDef(
      "q98_label_conflicts",
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
        val mirror = docs.where(col("doc_id") % 7 === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("text"),
            col("lang"), lit("mirror").as("source"), col("n_chars"))
        Dedup.labelConflicts(docs.unionByName(mirror))
      },
      Some("""WITH un AS (
             |  SELECT doc_id, text, lang, source FROM documents
             |  UNION ALL
             |  SELECT doc_id + 1000000, text, lang, 'mirror'
             |  FROM documents WHERE doc_id % 7 = 0
             |),
             |g AS (
             |  SELECT md5(text) AS fingerprint,
             |         CAST(COUNT(*) AS BIGINT) AS n_docs,
             |         CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
             |         CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
             |         MIN(doc_id) AS representative
             |  FROM un GROUP BY 1
             |)
             |SELECT fingerprint, n_docs, n_sources, n_langs, representative
             |FROM g
             |WHERE n_docs > 1 AND (n_sources > 1 OR n_langs > 1)
             |ORDER BY representative""".stripMargin)),

    // --- Per-source quality scorecard: the one-page per-ingest
    //     dashboard (volume, dup mass, token volume, vocabulary breadth,
    //     mean doc size) that decides which source gets down-weighted.
    QueryDef(
      "q99_source_scorecard",
      (s, dir) => TextAnalysis.sourceScorecard(Tables(s, dir, "documents")),
      Some("""WITH ds AS (
             |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
             |         CAST(COUNT(DISTINCT md5(text)) AS BIGINT)
             |           AS n_distinct_texts,
             |         CAST(SUM(n_chars) AS BIGINT) AS total_chars
             |  FROM documents GROUP BY source
             |),
             |tok AS (
             |  SELECT source,
             |         unnest(list_filter(string_split(lower(text), ' '),
             |                t -> t <> '')) AS t
             |  FROM documents
             |),
             |tt AS (SELECT source, t, CAST(COUNT(*) AS BIGINT) AS n
             |       FROM tok GROUP BY source, t),
             |ts AS (
             |  SELECT source, CAST(SUM(n) AS BIGINT) AS total_tokens,
             |         CAST(COUNT(*) AS BIGINT) AS n_distinct_tokens
             |  FROM tt GROUP BY source
             |)
             |SELECT ds.source, ds.n_docs,
             |       ds.n_docs - ds.n_distinct_texts AS n_dup_docs,
             |       (ds.n_docs - ds.n_distinct_texts) * 1000000 // ds.n_docs
             |         AS dup_ppm,
             |       ts.total_tokens, ts.n_distinct_tokens,
             |       CAST(ts.total_tokens AS DOUBLE) / ds.n_docs
             |         AS avg_doc_tokens,
             |       CAST(ds.total_chars AS DOUBLE) / ds.n_docs
             |         AS avg_doc_chars
             |FROM ds JOIN ts USING (source)
             |ORDER BY ds.source""".stripMargin)),

    // --- Nearest-centroid assignment confusion matrix: label-noise /
    //     cluster-quality eval over the same micro-quantized centroids
    //     as q91. Argmax is exact (integer dot ÷ centroid norm, one
    //     IEEE divide; ties to the smallest label); the oracle replays
    //     it with a window, the Spark side with a map-side struct-MAX
    //     (same semantics, no N·|labels| shuffle).
    QueryDef(
      "q100_centroid_assignment",
      (s, dir) => Similarity.centroidAssignment(Tables(s, dir, "embeddings")),
      Some("""WITH q AS (
             |  SELECT e.vec_id, e.label, d.i AS dim,
             |         CAST(FLOOR(CAST(e.embedding[d.i] AS DOUBLE)
             |              * 1000000 + 0.5) AS BIGINT) AS qv
             |  FROM embeddings e
             |  CROSS JOIN (SELECT unnest(range(1, 65)) AS i) d
             |),
             |c AS (
             |  SELECT label, dim,
             |         CAST(FLOOR(CAST(CAST(SUM(qv) AS BIGINT) AS DOUBLE)
             |              / COUNT(*)) AS BIGINT) AS cq
             |  FROM q GROUP BY label, dim
             |),
             |n AS (
             |  SELECT label, CAST(SUM(cq * cq) AS BIGINT) AS nsq
             |  FROM c GROUP BY label
             |),
             |dotp AS (
             |  SELECT q.vec_id, q.label AS true_label, c.label AS cand,
             |         CAST(SUM(q.qv * c.cq) AS BIGINT) AS dot
             |  FROM q JOIN c ON c.dim = q.dim
             |  GROUP BY q.vec_id, q.label, c.label
             |),
             |scored AS (
             |  SELECT d.vec_id, d.true_label, d.cand,
             |         CAST(d.dot AS DOUBLE) / sqrt(CAST(n.nsq AS DOUBLE))
             |           AS score
             |  FROM dotp d JOIN n ON n.label = d.cand
             |),
             |asg AS (
             |  SELECT vec_id, true_label, cand,
             |         ROW_NUMBER() OVER (PARTITION BY vec_id
             |              ORDER BY score DESC, cand) AS rk
             |  FROM scored
             |)
             |SELECT true_label AS label, cand AS assigned,
             |       CAST(COUNT(*) AS BIGINT) AS n
             |FROM asg WHERE rk = 1
             |GROUP BY 1, 2
             |ORDER BY 1, 2""".stripMargin)),

    // --- Collocation mining: top-20 bigrams by ratio-form PMI
    //     (c_ab·Nu²/(Nb·c_a·c_b) — log-free, one fixed-order IEEE
    //     expression over exact longs, so the doubles hash-match);
    //     min-support 5 suppresses the unstable rare-pair tail.
    QueryDef(
      "q101_collocations",
      (s, dir) => TextAnalysis.collocations(Tables(s, dir, "documents")),
      Some("""WITH toks AS (
             |  SELECT list_filter(string_split(lower(text), ' '),
             |         t -> t <> '') AS w
             |  FROM documents
             |),
             |pr AS (
             |  SELECT unnest(list_transform(range(1, greatest(len(w), 1)),
             |         i -> {'a': w[i], 'b': w[i+1]})) AS p
             |  FROM toks
             |),
             |pairs AS (SELECT p.a AS a, p.b AS b FROM pr),
             |cab AS (SELECT a, b, CAST(COUNT(*) AS BIGINT) AS n_ab
             |        FROM pairs GROUP BY a, b),
             |unig AS (
             |  SELECT t, CAST(COUNT(*) AS BIGINT) AS c
             |  FROM (SELECT unnest(w) AS t FROM toks)
             |  GROUP BY t
             |),
             |tot AS (SELECT CAST((SELECT SUM(n_ab) FROM cab) AS BIGINT) AS nb,
             |               CAST((SELECT SUM(c) FROM unig) AS BIGINT) AS nu)
             |SELECT cab.a, cab.b, cab.n_ab,
             |       ua.c AS c_a, ub.c AS c_b,
             |       CAST(cab.n_ab AS DOUBLE) * tot.nu * tot.nu
             |         / (CAST(tot.nb AS DOUBLE) * ua.c * ub.c) AS pmi
             |FROM cab
             |JOIN unig ua ON ua.t = cab.a
             |JOIN unig ub ON ub.t = cab.b
             |CROSS JOIN tot
             |WHERE cab.n_ab >= 5
             |ORDER BY pmi DESC, cab.a, cab.b
             |LIMIT 20""".stripMargin)),

    // --- Corpus snapshot delta: per-source added/removed/changed/
    //     unchanged between two versions, by content fingerprint. The
    //     'next' snapshot is synthesized deterministically (drop every
    //     11th doc, append ' v2' to every 5th, re-crawl every 13th into
    //     a new source) — identical construction both sides.
    QueryDef(
      "q102_corpus_diff",
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
        val bBase = docs.where(col("doc_id") % 11 =!= 0)
          .withColumn("text",
            when(col("doc_id") % 5 === 0, concat(col("text"), lit(" v2")))
              .otherwise(col("text")))
        val bNew = docs.where(col("doc_id") % 13 === 0)
          .select((col("doc_id") + 2000000L).as("doc_id"), col("text"),
            col("lang"), lit("new_crawl").as("source"), col("n_chars"))
        TextAnalysis.corpusDiff(docs, bBase.unionByName(bNew))
      },
      Some("""WITH b AS (
             |  SELECT doc_id,
             |         CASE WHEN doc_id % 5 = 0 THEN text || ' v2'
             |              ELSE text END AS text,
             |         source
             |  FROM documents WHERE doc_id % 11 <> 0
             |  UNION ALL
             |  SELECT doc_id + 2000000, text, 'new_crawl'
             |  FROM documents WHERE doc_id % 13 = 0
             |),
             |fa AS (SELECT doc_id, source, md5(text) AS f FROM documents),
             |fb AS (SELECT doc_id, source, md5(text) AS f FROM b),
             |j AS (
             |  SELECT COALESCE(fa.source, fb.source) AS source,
             |         CASE WHEN fa.f IS NULL THEN 'added'
             |              WHEN fb.f IS NULL THEN 'removed'
             |              WHEN fa.f = fb.f THEN 'unchanged'
             |              ELSE 'changed' END AS status
             |  FROM fa FULL OUTER JOIN fb ON fb.doc_id = fa.doc_id
             |)
             |SELECT source, status, CAST(COUNT(*) AS BIGINT) AS n
             |FROM j GROUP BY 1, 2
             |ORDER BY 1, 2""".stripMargin)),

    // --- Embedding-index coverage per source: docs joined to the
    //     vector index by id, exact-ppm coverage. The index is
    //     synthesized with deterministic gaps (drop every 9th vector)
    //     so the report exercises real missing mass.
    QueryDef(
      "q103_embedding_coverage",
      (s, dir) => Similarity.embeddingCoverage(
        Tables(s, dir, "documents"),
        Tables(s, dir, "embeddings").where(col("vec_id") % 9 =!= 0)),
      Some("""WITH idx AS (
             |  SELECT vec_id AS doc_id FROM embeddings WHERE vec_id % 9 <> 0
             |),
             |j AS (
             |  SELECT d.source,
             |         CASE WHEN i.doc_id IS NULL THEN 0 ELSE 1 END AS has
             |  FROM documents d LEFT JOIN idx i ON i.doc_id = d.doc_id
             |)
             |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
             |       CAST(SUM(has) AS BIGINT) AS n_indexed,
             |       CAST(COUNT(*) - SUM(has) AS BIGINT) AS n_missing,
             |       CAST(SUM(has) AS BIGINT) * 1000000 // COUNT(*)
             |         AS coverage_ppm
             |FROM j GROUP BY source
             |ORDER BY source""".stripMargin)),

    // --- Boilerplate spans: top-20 word 3-grams by document frequency
    //     (C4-style template-text detector). Distinct-per-doc shingles,
    //     TakeOrdered top-k.
    QueryDef(
      "q104_boilerplate_spans",
      (s, dir) => TextAnalysis.boilerplateSpans(Tables(s, dir, "documents")),
      Some(s"""WITH $ShinglesCte,
             |d AS (SELECT shingle, CAST(COUNT(*) AS BIGINT) AS df
             |      FROM sh GROUP BY shingle),
             |t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents)
             |SELECT d.shingle, d.df, d.df * 1000000 // t.n_docs AS df_ppm
             |FROM d CROSS JOIN t
             |ORDER BY d.df DESC, d.shingle
             |LIMIT 20""".stripMargin)),

    // --- Gopher-style quality-filter funnel: per-filter fail counts +
    //     exact-ppm rates, thresholds calibrated to the corpus deciles
    //     so every filter carries non-trivial mass.
    QueryDef(
      "q105_quality_funnel",
      (s, dir) => TextAnalysis.qualityFunnel(Tables(s, dir, "documents")),
      Some("""WITH t AS (
             |  SELECT doc_id,
             |         list_filter(string_split(lower(text), ' '),
             |                     x -> x <> '') AS w
             |  FROM documents
             |),
             |per AS (
             |  SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens,
             |         CAST(list_aggregate(list_transform(w, x -> len(x)),
             |              'sum') AS BIGINT) AS sum_len,
             |         CAST(len(list_filter(w, x -> x IN ('the', 'a')))
             |              AS BIGINT) AS n_stop
             |  FROM t
             |),
             |tok AS (SELECT doc_id, unnest(w) AS tk FROM t),
             |c AS (SELECT doc_id, tk, COUNT(*) AS n FROM tok GROUP BY 1, 2),
             |mx AS (SELECT doc_id, CAST(MAX(n) AS BIGINT) AS top_n
             |       FROM c GROUP BY 1),
             |f AS (
             |  SELECT CASE WHEN per.n_tokens < 25 THEN 1 ELSE 0 END
             |           AS f_short,
             |         CASE WHEN per.n_tokens > 90 THEN 1 ELSE 0 END
             |           AS f_long,
             |         CASE WHEN per.sum_len * 100 // per.n_tokens < 380
             |               OR per.sum_len * 100 // per.n_tokens > 520
             |              THEN 1 ELSE 0 END AS f_toklen,
             |         CASE WHEN mx.top_n * 1000000 // per.n_tokens > 120000
             |              THEN 1 ELSE 0 END AS f_rep,
             |         CASE WHEN per.n_stop * 1000000 // per.n_tokens < 20000
             |              THEN 1 ELSE 0 END AS f_stop
             |  FROM per JOIN mx USING (doc_id)
             |),
             |a AS (
             |  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
             |         CAST(SUM(f_short) AS BIGINT) AS n_short,
             |         CAST(SUM(f_long) AS BIGINT) AS n_long,
             |         CAST(SUM(f_toklen) AS BIGINT) AS n_toklen,
             |         CAST(SUM(f_rep) AS BIGINT) AS n_rep,
             |         CAST(SUM(f_stop) AS BIGINT) AS n_stopf,
             |         CAST(SUM(CASE WHEN f_short + f_long + f_toklen
             |                        + f_rep + f_stop = 0
             |                       THEN 1 ELSE 0 END) AS BIGINT) AS n_pass
             |  FROM f
             |),
             |s AS (
             |  SELECT CAST(1 AS BIGINT) AS stage, 'too_short' AS filter_name,
             |         n_short AS n, n_docs FROM a
             |  UNION ALL SELECT 2, 'too_long', n_long, n_docs FROM a
             |  UNION ALL SELECT 3, 'odd_token_len', n_toklen, n_docs FROM a
             |  UNION ALL SELECT 4, 'repetitive', n_rep, n_docs FROM a
             |  UNION ALL SELECT 5, 'low_stopword', n_stopf, n_docs FROM a
             |  UNION ALL SELECT 6, 'pass_all', n_pass, n_docs FROM a
             |)
             |SELECT stage, filter_name, n, n * 1000000 // n_docs AS ppm
             |FROM s ORDER BY stage""".stripMargin)),

    // --- Metadata-vs-content correlation: per-source Pearson r between
    //     n_chars and token count from exact integer sufficient
    //     statistics (one fixed-order IEEE expression → hashable).
    QueryDef(
      "q106_length_token_corr",
      (s, dir) => TextAnalysis.lengthTokenCorr(Tables(s, dir, "documents")),
      Some("""WITH per AS (
             |  SELECT source, CAST(n_chars AS BIGINT) AS x,
             |         CAST(len(list_filter(string_split(lower(text), ' '),
             |              t -> t <> '')) AS BIGINT) AS y
             |  FROM documents
             |),
             |a AS (
             |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
             |         CAST(SUM(x) AS BIGINT) AS sum_chars,
             |         CAST(SUM(y) AS BIGINT) AS sum_tokens,
             |         CAST(SUM(x * y) AS BIGINT) AS sxy,
             |         CAST(SUM(x * x) AS BIGINT) AS sxx,
             |         CAST(SUM(y * y) AS BIGINT) AS syy
             |  FROM per GROUP BY source
             |)
             |SELECT source, n_docs, sum_chars, sum_tokens,
             |       CAST(n_docs * sxy - sum_chars * sum_tokens AS DOUBLE) /
             |       (sqrt(CAST(n_docs * sxx - sum_chars * sum_chars
             |                  AS DOUBLE)) *
             |        sqrt(CAST(n_docs * syy - sum_tokens * sum_tokens
             |                  AS DOUBLE))) AS corr
             |FROM a ORDER BY source""".stripMargin)),

    // --- Token-length histogram with exact-ppm shares (subword
    //     tokenizer design input); counts table persisted against a
    //     double corpus scan.
    QueryDef(
      "q107_token_length_hist",
      (s, dir) => TextAnalysis.tokenLengthHist(Tables(s, dir, "documents")),
      Some("""WITH tok AS (
             |  SELECT unnest(list_filter(string_split(lower(text), ' '),
             |                t -> t <> '')) AS t
             |  FROM documents
             |),
             |c AS (SELECT CAST(len(t) AS BIGINT) AS len,
             |             CAST(COUNT(*) AS BIGINT) AS n
             |      FROM tok GROUP BY 1),
             |tt AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM c)
             |SELECT c.len, c.n, c.n * 1000000 // tt.total AS share_ppm
             |FROM c CROSS JOIN tt ORDER BY c.len""".stripMargin)),

    // --- Whole-corpus approximate KNN graph, blocked by the q52
    //     trained quantizer (identical training, spliced oracle
    //     prefix) — Σ|block|² candidate pairs, never N².
    QueryDef(
      "q108_knn_graph",
      // k pinned to the oracle's replayed quantizer size; the
      // operator's k=0 default derives k ≈ sqrt(N/2) instead (the
      // scale-correct blocking — see the knnGraph scaladoc)
      (s, dir) =>
        Similarity.knnGraph(Tables(s, dir, "embeddings"), k = 8),
      Some(KnnGraphOracle)),

    // --- Exact inter-arrival percentiles per event type (lower median
    //     + ceil-p90 of same-type per-user gaps) from the distinct-gap
    //     cumulative table — deterministic, unlike approx_percentile.
    QueryDef(
      "q110_interarrival",
      (s, dir) => EventFunnel.interArrival(graft.Tables(s, dir, "events")),
      Some("""WITH e AS (
             |  SELECT user_id, event_type, event_id,
             |         CAST(FLOOR(EPOCH(ts)) AS BIGINT) AS sec
             |  FROM events
             |),
             |g AS (
             |  SELECT event_type,
             |         sec - LAG(sec) OVER (PARTITION BY user_id, event_type
             |              ORDER BY sec, event_id) AS gap
             |  FROM e
             |),
             |c AS (
             |  SELECT event_type, gap, CAST(COUNT(*) AS BIGINT) AS n
             |  FROM g WHERE gap IS NOT NULL GROUP BY 1, 2
             |),
             |cum AS (
             |  SELECT event_type, gap, n,
             |         CAST(SUM(n) OVER (PARTITION BY event_type
             |              ORDER BY gap) AS BIGINT) AS cum
             |  FROM c
             |),
             |t AS (SELECT event_type, CAST(SUM(n) AS BIGINT) AS n_gaps
             |      FROM c GROUP BY 1)
             |SELECT cum.event_type, MIN(t.n_gaps) AS n_gaps,
             |       MIN(cum.gap) AS min_gap,
             |       MIN(CASE WHEN cum.cum >= (t.n_gaps + 1) // 2
             |                THEN cum.gap END) AS p50_gap,
             |       MIN(CASE WHEN cum.cum >= (9 * t.n_gaps + 9) // 10
             |                THEN cum.gap END) AS p90_gap,
             |       MAX(cum.gap) AS max_gap
             |FROM cum JOIN t USING (event_type)
             |GROUP BY cum.event_type
             |ORDER BY cum.event_type""".stripMargin)),

    // --- Incremental near-dup attribution: each batch doc's best
    //     verified corpus match (cluster join for incremental ingest).
    //     The batch is synthesized deterministically: every 17th doc
    //     re-crawled with an appended token (a near-dup), every 23rd
    //     token-reversed (novel) — identical construction both sides.
    QueryDef(
      "q111_incremental_match",
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
        val nd = docs.where(col("doc_id") % 17 === 0)
          .select((col("doc_id") + 3000000L).as("doc_id"),
            concat(col("text"), lit(" upd")).as("text"))
        val nov = docs.where(col("doc_id") % 23 === 0)
          .select((col("doc_id") + 4000000L).as("doc_id"),
            concat_ws(" ", reverse(split(col("text"), " "))).as("text"))
        Dedup.incrementalBestMatch(nd.unionByName(nov), docs)
      },
      Some(s"""WITH fns AS (SELECT unnest(range(16)) AS f),
             |batch AS (
             |  SELECT doc_id + 3000000 AS doc_id, text || ' upd' AS text
             |  FROM documents WHERE doc_id % 17 = 0
             |  UNION ALL
             |  SELECT doc_id + 4000000,
             |         array_to_string(list_reverse(string_split(text, ' ')),
             |                         ' ')
             |  FROM documents WHERE doc_id % 23 = 0
             |),
             |${minhashCteFor("documents", "e")},
             |${minhashCteFor("batch", "b")},
             |cand AS (
             |  SELECT DISTINCT b.doc_id AS new_id, e.doc_id AS old_id
             |  FROM bmh b JOIN emh e
             |    ON e.band = b.band AND e.minhash = b.minhash
             |),
             |bcnt AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS bn
             |         FROM bsh GROUP BY 1),
             |ecnt AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS en
             |         FROM esh GROUP BY 1),
             |inter AS (
             |  SELECT c.new_id, c.old_id, CAST(COUNT(*) AS BIGINT) AS i
             |  FROM cand c
             |  JOIN bsh s1 ON s1.doc_id = c.new_id
             |  JOIN esh s2 ON s2.doc_id = c.old_id
             |               AND s2.shingle = s1.shingle
             |  GROUP BY 1, 2
             |),
             |ver AS (
             |  SELECT i.new_id, i.old_id,
             |         CAST(i.i AS DOUBLE) / (bc.bn + ec.en - i.i) AS jaccard
             |  FROM inter i JOIN bcnt bc ON bc.doc_id = i.new_id
             |               JOIN ecnt ec ON ec.doc_id = i.old_id
             |  WHERE CAST(i.i AS DOUBLE) / (bc.bn + ec.en - i.i) >= 0.5
             |),
             |best AS (
             |  SELECT new_id, old_id, jaccard,
             |         ROW_NUMBER() OVER (PARTITION BY new_id
             |              ORDER BY jaccard DESC, old_id) AS rn
             |  FROM ver
             |)
             |SELECT b.doc_id, best.old_id AS match_id, best.jaccard,
             |       CASE WHEN best.old_id IS NULL THEN 'novel'
             |            ELSE 'near_dup' END AS status
             |FROM batch b LEFT JOIN best
             |  ON best.new_id = b.doc_id AND best.rn = 1
             |ORDER BY b.doc_id""".stripMargin)),

    // --- Label-noise worklist: per label, the 3 members with the
    //     lowest cosine to their own label's micro-centroid (exact
    //     quantized arithmetic shared with q91/q100).
    QueryDef(
      "q109_label_outliers",
      (s, dir) => Similarity.labelOutliers(Tables(s, dir, "embeddings")),
      Some("""WITH q AS (
             |  SELECT e.vec_id, e.label, d.i AS dim,
             |         CAST(FLOOR(CAST(e.embedding[d.i] AS DOUBLE)
             |              * 1000000 + 0.5) AS BIGINT) AS qv
             |  FROM embeddings e
             |  CROSS JOIN (SELECT unnest(range(1, 65)) AS i) d
             |),
             |c AS (
             |  SELECT label, dim,
             |         CAST(FLOOR(CAST(CAST(SUM(qv) AS BIGINT) AS DOUBLE)
             |              / COUNT(*)) AS BIGINT) AS cq
             |  FROM q GROUP BY label, dim
             |),
             |n AS (
             |  SELECT label, CAST(SUM(cq * cq) AS BIGINT) AS nsq
             |  FROM c GROUP BY label
             |),
             |vn AS (
             |  SELECT vec_id, CAST(SUM(qv * qv) AS BIGINT) AS nq
             |  FROM q GROUP BY vec_id
             |),
             |dotp AS (
             |  SELECT q.vec_id, q.label,
             |         CAST(SUM(q.qv * c.cq) AS BIGINT) AS dot
             |  FROM q JOIN c ON c.label = q.label AND c.dim = q.dim
             |  GROUP BY q.vec_id, q.label
             |),
             |scored AS (
             |  SELECT d.vec_id, d.label,
             |         CAST(d.dot AS DOUBLE)
             |           / (sqrt(CAST(vn.nq AS DOUBLE))
             |              * sqrt(CAST(n.nsq AS DOUBLE))) AS score
             |  FROM dotp d JOIN n ON n.label = d.label
             |              JOIN vn ON vn.vec_id = d.vec_id
             |),
             |r AS (
             |  SELECT label, vec_id, score,
             |         CAST(ROW_NUMBER() OVER (PARTITION BY label
             |              ORDER BY score, vec_id) AS BIGINT) AS rk
             |  FROM scored
             |)
             |SELECT label, vec_id, score, rk FROM r
             |WHERE rk <= 3 ORDER BY label, rk""".stripMargin)),

    // --- Sub-document segment dedup report (C4/RefinedWeb line-dedup
    //     analog): non-overlapping 10-token segments, corpus-df on the
    //     md5 fingerprint, per-source duplicated-occurrence mass.
    QueryDef(
      "q112_segment_dedup",
      (s, dir) => TextAnalysis.segmentDedup(Tables(s, dir, "documents")),
      Some("""WITH toks AS (
             |  SELECT doc_id, source,
             |         list_filter(string_split(lower(text), ' '),
             |                     t -> t <> '') AS w
             |  FROM documents
             |),
             |segs AS (
             |  SELECT source, doc_id,
             |         unnest(list_transform(range(1, (len(w) + 9) // 10 + 1),
             |                i -> array_to_string(
             |                       w[(i-1)*10+1 : (i-1)*10+10], ' ')))
             |           AS seg
             |  FROM toks
             |),
             |occ AS (
             |  SELECT source, doc_id, md5(seg) AS fp,
             |         CAST(len(string_split(seg, ' ')) AS BIGINT) AS n_tok
             |  FROM segs
             |),
             |d AS (SELECT fp, CAST(COUNT(*) AS BIGINT) AS df
             |      FROM occ GROUP BY fp)
             |SELECT o.source,
             |       CAST(COUNT(DISTINCT o.doc_id) AS BIGINT) AS n_docs,
             |       CAST(COUNT(*) AS BIGINT) AS n_segments,
             |       CAST(SUM(CASE WHEN d.df > 1 THEN 1 ELSE 0 END)
             |            AS BIGINT) AS dup_segments,
             |       CAST(SUM(CASE WHEN d.df > 1 THEN 1 ELSE 0 END)
             |            * 1000000 // COUNT(*) AS BIGINT) AS dup_seg_ppm,
             |       CAST(SUM(CASE WHEN d.df > 1 THEN o.n_tok ELSE 0 END)
             |            AS BIGINT) AS dup_tokens
             |FROM occ o JOIN d USING (fp)
             |GROUP BY o.source
             |ORDER BY o.source""".stripMargin)),

    // --- Normalization dedup gain: the corpus unioned with a
    //     deterministic noisy re-crawl (every 13th doc uppercased with
    //     doubled spaces); reports how many extra docs collapse when
    //     exact dedup runs on canonicalized text instead of raw bytes.
    QueryDef(
      "q114_norm_dedup_gain",
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
        val noisy = docs.where(col("doc_id") % 13 === 0)
          .select((col("doc_id") + 5000000L).as("doc_id"),
            expr("replace(upper(text), ' ', '  ')").as("text"))
        TextAnalysis.normalizationGain(
          docs.select("doc_id", "text").unionByName(noisy))
      },
      Some("""WITH all_docs AS (
             |  SELECT doc_id, text FROM documents
             |  UNION ALL
             |  SELECT doc_id + 5000000, replace(upper(text), ' ', '  ')
             |  FROM documents WHERE doc_id % 13 = 0
             |),
             |n AS (
             |  SELECT md5(text) AS raw_fp,
             |         md5(trim(regexp_replace(lower(text), ' +', ' ', 'g')))
             |           AS norm_fp
             |  FROM all_docs
             |)
             |SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
             |       CAST(COUNT(*) - COUNT(DISTINCT raw_fp) AS BIGINT)
             |         AS raw_redundant,
             |       CAST(COUNT(*) - COUNT(DISTINCT norm_fp) AS BIGINT)
             |         AS norm_redundant,
             |       CAST(COUNT(DISTINCT raw_fp) - COUNT(DISTINCT norm_fp)
             |            AS BIGINT) AS normalization_gain
             |FROM n""".stripMargin)),

    // --- Robust-winnowing fingerprint density (MOSS scheme): window
    //     minimum over positional 3-gram hashes (w=4), leftmost
    //     tie-break via position packed in the low 20 bits.
    QueryDef(
      "q113_winnow_density",
      (s, dir) => TextAnalysis.winnowReport(Tables(s, dir, "documents")),
      Some(s"""WITH toks AS (
             |  SELECT doc_id, source,
             |         list_filter(string_split(lower(text), ' '),
             |                     t -> t <> '') AS w
             |  FROM documents
             |),
             |shp AS (
             |  SELECT source, doc_id, len(w) - 2 AS p,
             |         unnest(range(1, greatest(len(w) - 1, 1))) AS pos,
             |         unnest(list_transform(range(1, greatest(len(w) - 1, 1)),
             |                i -> array_to_string(w[i:i+2], ' '))) AS shingle
             |  FROM toks
             |),
             |pf AS (
             |  SELECT source, doc_id, p, pos,
             |         ${Dedup.hexToLongSql("md5(shingle)", 1, "strpos")}
             |           * 1048576 + (pos - 1) AS packed
             |  FROM shp
             |),
             |sel AS (
             |  SELECT DISTINCT source, doc_id, msel
             |  FROM (
             |    SELECT source, doc_id, p, pos,
             |           MIN(packed) OVER (PARTITION BY doc_id ORDER BY pos
             |                ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING)
             |             AS msel
             |    FROM pf)
             |  WHERE pos <= greatest(p - 3, 1)
             |),
             |per AS (
             |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_prints,
             |         CAST(COUNT(DISTINCT msel // 1048576) AS BIGINT)
             |           AS distinct_hashes
             |  FROM sel GROUP BY source
             |),
             |tot AS (
             |  SELECT source,
             |         CAST(SUM(CASE WHEN len(w) >= 3 THEN 1 ELSE 0 END)
             |              AS BIGINT) AS n_docs,
             |         CAST(SUM(CASE WHEN len(w) >= 3 THEN len(w) - 2
             |                       ELSE 0 END) AS BIGINT) AS n_positions
             |  FROM toks GROUP BY source
             |)
             |SELECT t.source, t.n_docs, t.n_positions, p.n_prints,
             |       CAST(p.n_prints * 1000000 // t.n_positions AS BIGINT)
             |         AS print_ppm,
             |       p.distinct_hashes
             |FROM tot t JOIN per p USING (source)
             |ORDER BY t.source""".stripMargin)),

    // --- Shard-stitch detection: the corpus unioned with a
    //     deterministic split mirror (every 19th doc >= 12 tokens cut
    //     at the midpoint with a 5-token overlap); the operator finds
    //     suffix == prefix pairs, df-capped against boilerplate.
    QueryDef(
      "q116_stitch_pairs",
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
        val sp = docs
          .select(col("doc_id"), Dedup.tokens(col("text")).as("w"))
          .where(col("doc_id") % 19 === 0 && size(col("w")) >= 12)
          .withColumn("m", expr("size(w) div 2"))
        val partA = sp.select((col("doc_id") + 6000000L).as("doc_id"),
          expr("concat_ws(' ', slice(w, 1, m + 4))").as("text"))
        val partB = sp.select((col("doc_id") + 7000000L).as("doc_id"),
          expr("concat_ws(' ', slice(w, m, size(w) - m + 1))").as("text"))
        Dedup.stitchPairs(docs.select("doc_id", "text")
          .unionByName(partA).unionByName(partB))
      },
      Some("""WITH toks AS (
             |  SELECT doc_id,
             |         list_filter(string_split(lower(text), ' '),
             |                     t -> t <> '') AS w
             |  FROM documents
             |),
             |sp AS (
             |  SELECT doc_id, w, len(w) // 2 AS m
             |  FROM toks WHERE doc_id % 19 = 0 AND len(w) >= 12
             |),
             |all_docs AS (
             |  SELECT doc_id, text FROM documents
             |  UNION ALL
             |  SELECT doc_id + 6000000, array_to_string(w[1:m+4], ' ')
             |  FROM sp
             |  UNION ALL
             |  SELECT doc_id + 7000000, array_to_string(w[m:len(w)], ' ')
             |  FROM sp
             |),
             |tw AS (
             |  SELECT doc_id,
             |         list_filter(string_split(lower(text), ' '),
             |                     t -> t <> '') AS w
             |  FROM all_docs WHERE len(list_filter(
             |    string_split(lower(text), ' '), t -> t <> '')) >= 5
             |),
             |lft AS (
             |  SELECT doc_id AS left_id,
             |         array_to_string(w[len(w)-4:len(w)], ' ') AS phrase
             |  FROM tw
             |),
             |rgt AS (
             |  SELECT doc_id AS right_id,
             |         array_to_string(w[1:5], ' ') AS phrase
             |  FROM tw
             |),
             |lc AS (SELECT phrase FROM lft GROUP BY phrase
             |       HAVING COUNT(*) <= 100),
             |rc AS (SELECT phrase FROM rgt GROUP BY phrase
             |       HAVING COUNT(*) <= 100)
             |SELECT l.left_id, r.right_id, l.phrase
             |FROM lft l JOIN rgt r USING (phrase)
             |JOIN lc USING (phrase) JOIN rc USING (phrase)
             |WHERE l.left_id <> r.right_id
             |ORDER BY l.left_id, r.right_id""".stripMargin)),

    // --- Image perceptual near-dup (aHash over the REAL PNG decode):
    //     exact perceptual groups collapse linearly; near-links join
    //     group representatives via 4-block bucketing + hex hamming.
    //     The oracle recomputes every sampled pixel from the
    //     generating formula, so a broken decode, stride, or
    //     thresholding flips the hash.
    QueryDef(
      "q115_image_phash_dup",
      (s, dir) =>
        MediaPipeline.imagePerceptualDup(Tables(s, dir, "documents")),
      Some("""WITH imgs AS (
             |  SELECT doc_id AS media_id,
             |         16 + (doc_id % 4) * 8 AS w,
             |         16 + (doc_id % 3) * 8 AS h
             |  FROM documents
             |),
             |samp AS (
             |  SELECT media_id, (y.y * 8 + x.x) AS bit_i,
             |         (media_id * 31 +
             |          (y.y * (h // 8) * w + x.x * (w // 8)) * 7) % 256 AS v
             |  FROM imgs,
             |       (SELECT unnest(range(8)) AS x) x,
             |       (SELECT unnest(range(8)) AS y) y
             |),
             |m AS (SELECT media_id, SUM(v) // 64 AS mean
             |      FROM samp GROUP BY 1),
             |bits AS (
             |  SELECT s.media_id, s.bit_i,
             |         CASE WHEN s.v > m.mean THEN 1 ELSE 0 END AS b
             |  FROM samp s JOIN m USING (media_id)
             |),
             |nib AS (
             |  SELECT media_id, bit_i // 4 AS j,
             |         SUM(b * (CASE bit_i % 4 WHEN 0 THEN 1 WHEN 1 THEN 2
             |                  WHEN 2 THEN 4 ELSE 8 END)) AS n
             |  FROM bits GROUP BY 1, 2
             |),
             |hashes AS (
             |  SELECT media_id,
             |         string_agg(substr('0123456789abcdef',
             |                    CAST(n AS INT) + 1, 1), '' ORDER BY j)
             |           AS ahash
             |  FROM nib GROUP BY media_id
             |),
             |rep AS (
             |  SELECT ahash, MIN(media_id) AS rep_id,
             |         CAST(COUNT(*) AS BIGINT) AS n_images
             |  FROM hashes GROUP BY 1
             |),
             |blk AS (
             |  SELECT rep_id, ahash, n_images, t AS bk,
             |         substr(ahash, 1 + CAST(t AS INT) * 4, 4) AS block
             |  FROM rep, (SELECT unnest(range(4)) AS t)
             |),
             |cand AS (
             |  SELECT DISTINCT b1.rep_id AS a, b2.rep_id AS b,
             |         b1.ahash AS ha, b2.ahash AS hb,
             |         b1.n_images AS n_a, b2.n_images AS n_b
             |  FROM blk b1 JOIN blk b2
             |    ON b1.bk = b2.bk AND b1.block = b2.block
             |   AND b1.rep_id < b2.rep_id
             |),
             |pos AS (SELECT unnest(range(16)) AS i),
             |ham AS (
             |  SELECT a, b, n_a, n_b,
             |    CAST(SUM(CAST(substr('0112122312232334',
             |      CAST(xor(strpos('0123456789abcdef',
             |                      substr(ha, CAST(i AS INT) + 1, 1)) - 1,
             |               strpos('0123456789abcdef',
             |                      substr(hb, CAST(i AS INT) + 1, 1)) - 1)
             |           AS INT) + 1, 1) AS BIGINT)) AS BIGINT) AS hamming
             |  FROM cand CROSS JOIN pos GROUP BY a, b, n_a, n_b
             |)
             |SELECT a, b, n_a, n_b, hamming FROM ham
             |WHERE hamming BETWEEN 1 AND 3
             |ORDER BY a, b""".stripMargin)),

    // --- Cross-source segment-overlap matrix: distinct shared 10-token
    //     segments per source pair, with exact-ppm shares of each
    //     side's distinct segment vocabulary.
    QueryDef(
      "q117_source_seg_overlap",
      (s, dir) =>
        TextAnalysis.sourceSegmentOverlap(Tables(s, dir, "documents")),
      Some("""WITH toks AS (
             |  SELECT doc_id, source,
             |         list_filter(string_split(lower(text), ' '),
             |                     t -> t <> '') AS w
             |  FROM documents
             |),
             |segs AS (
             |  SELECT source, doc_id,
             |         unnest(list_transform(range(1, (len(w) + 9) // 10 + 1),
             |                i -> array_to_string(
             |                       w[(i-1)*10+1 : (i-1)*10+10], ' ')))
             |           AS seg
             |  FROM toks
             |),
             |fpsrc AS (SELECT DISTINCT md5(seg) AS fp, source FROM segs),
             |vocab AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n
             |          FROM fpsrc GROUP BY source),
             |pairs AS (
             |  SELECT x.source AS source_a, y.source AS source_b,
             |         CAST(COUNT(*) AS BIGINT) AS shared_segments
             |  FROM fpsrc x JOIN fpsrc y
             |    ON y.fp = x.fp AND x.source < y.source
             |  GROUP BY 1, 2
             |)
             |SELECT p.source_a, p.source_b, p.shared_segments,
             |       CAST(p.shared_segments * 1000000 // va.n AS BIGINT)
             |         AS a_ppm,
             |       CAST(p.shared_segments * 1000000 // vb.n AS BIGINT)
             |         AS b_ppm
             |FROM pairs p
             |JOIN vocab va ON va.source = p.source_a
             |JOIN vocab vb ON vb.source = p.source_b
             |ORDER BY p.source_a, p.source_b""".stripMargin)),

    // --- Audio perceptual near-dup: 64-window envelope hash over the
    //     REAL WAV decode of the AM clip family; same collapse-then-
    //     link machinery as q115. The oracle recomputes every PCM
    //     sample from the generating formula.
    QueryDef(
      "q118_audio_phash_dup",
      (s, dir) =>
        MediaPipeline.audioPerceptualDup(Tables(s, dir, "documents")),
      Some("""WITH aud AS (
             |  SELECT doc_id AS media_id, 512 + (doc_id % 4) * 128 AS n
             |  FROM documents
             |),
             |samp AS (
             |  SELECT media_id, i.i AS i,
             |         ((media_id * 37 + i.i * 11) % 65536) - 32768 AS base,
             |         1 + (media_id * 13 + (i.i // (n // 64)) * 7) % 16 AS g,
             |         n // 64 AS wl
             |  FROM aud, (SELECT unnest(range(896)) AS i) i
             |  WHERE i.i < n
             |),
             |s2 AS (SELECT media_id, i, wl, (base * g) // 16 AS v FROM samp),
             |wine AS (
             |  SELECT media_id, i // wl AS j,
             |         SUM(ABS(v)) // MIN(wl) AS e
             |  FROM s2 GROUP BY media_id, i // wl
             |),
             |m AS (SELECT media_id, SUM(e) // 64 AS mean
             |      FROM wine GROUP BY 1),
             |bits AS (
             |  SELECT w.media_id, w.j,
             |         CASE WHEN w.e > m.mean THEN 1 ELSE 0 END AS b
             |  FROM wine w JOIN m USING (media_id)
             |),
             |nib AS (
             |  SELECT media_id, j // 4 AS jj,
             |         SUM(b * (CASE j % 4 WHEN 0 THEN 1 WHEN 1 THEN 2
             |                  WHEN 2 THEN 4 ELSE 8 END)) AS n
             |  FROM bits GROUP BY 1, 2
             |),
             |hashes AS (
             |  SELECT media_id,
             |         string_agg(substr('0123456789abcdef',
             |                    CAST(n AS INT) + 1, 1), '' ORDER BY jj)
             |           AS ahash
             |  FROM nib GROUP BY media_id
             |),
             |rep AS (
             |  SELECT ahash, MIN(media_id) AS rep_id,
             |         CAST(COUNT(*) AS BIGINT) AS n_images
             |  FROM hashes GROUP BY 1
             |),
             |blk AS (
             |  SELECT rep_id, ahash, n_images, t AS bk,
             |         substr(ahash, 1 + CAST(t AS INT) * 4, 4) AS block
             |  FROM rep, (SELECT unnest(range(4)) AS t)
             |),
             |cand AS (
             |  SELECT DISTINCT b1.rep_id AS a, b2.rep_id AS b,
             |         b1.ahash AS ha, b2.ahash AS hb,
             |         b1.n_images AS n_a, b2.n_images AS n_b
             |  FROM blk b1 JOIN blk b2
             |    ON b1.bk = b2.bk AND b1.block = b2.block
             |   AND b1.rep_id < b2.rep_id
             |),
             |pos AS (SELECT unnest(range(16)) AS i),
             |ham AS (
             |  SELECT a, b, n_a, n_b,
             |    CAST(SUM(CAST(substr('0112122312232334',
             |      CAST(xor(strpos('0123456789abcdef',
             |                      substr(ha, CAST(i AS INT) + 1, 1)) - 1,
             |               strpos('0123456789abcdef',
             |                      substr(hb, CAST(i AS INT) + 1, 1)) - 1)
             |           AS INT) + 1, 1) AS BIGINT)) AS BIGINT) AS hamming
             |  FROM cand CROSS JOIN pos GROUP BY a, b, n_a, n_b
             |)
             |SELECT a, b, n_a, n_b, hamming FROM ham
             |WHERE hamming BETWEEN 1 AND 3
             |ORDER BY a, b""".stripMargin)),

    // --- Video shared-frame detection: per-frame aHash over the real
    //     GVID demux + PNG decode; pairs of videos sharing >= 2
    //     distinct frame hashes, template frames df-capped at 20.
    QueryDef(
      "q119_video_shared_frames",
      (s, dir) =>
        MediaPipeline.videoSharedFrames(Tables(s, dir, "documents")),
      Some("""WITH vids AS (
             |  SELECT doc_id AS media_id, 8 + (doc_id % 2) * 8 AS w,
             |         8 + (doc_id % 3) * 4 AS h, 6 + doc_id % 5 AS nf
             |  FROM documents
             |),
             |fr AS (
             |  SELECT media_id, w, h, f.f AS f
             |  FROM vids, (SELECT unnest(range(10)) AS f) f
             |  WHERE f.f < nf
             |),
             |samp AS (
             |  SELECT media_id, f, (y.y * 8 + x.x) AS bit_i,
             |         (media_id * 31 + f * 13 +
             |          (y.y * (h // 8) * w + x.x * (w // 8)) * 7) % 256 AS v
             |  FROM fr,
             |       (SELECT unnest(range(8)) AS x) x,
             |       (SELECT unnest(range(8)) AS y) y
             |),
             |m AS (SELECT media_id, f, SUM(v) // 64 AS mean
             |      FROM samp GROUP BY 1, 2),
             |bits AS (
             |  SELECT s.media_id, s.f, s.bit_i,
             |         CASE WHEN s.v > m.mean THEN 1 ELSE 0 END AS b
             |  FROM samp s JOIN m USING (media_id, f)
             |),
             |nib AS (
             |  SELECT media_id, f, bit_i // 4 AS j,
             |         SUM(b * (CASE bit_i % 4 WHEN 0 THEN 1 WHEN 1 THEN 2
             |                  WHEN 2 THEN 4 ELSE 8 END)) AS n
             |  FROM bits GROUP BY 1, 2, 3
             |),
             |fh AS (
             |  SELECT media_id, f,
             |         string_agg(substr('0123456789abcdef',
             |                    CAST(n AS INT) + 1, 1), '' ORDER BY j)
             |           AS fhash
             |  FROM nib GROUP BY 1, 2
             |),
             |vf AS (SELECT DISTINCT media_id, fhash FROM fh),
             |dfc AS (SELECT fhash FROM vf GROUP BY fhash
             |        HAVING COUNT(*) <= 20)
             |SELECT x.media_id AS a, y.media_id AS b,
             |       CAST(COUNT(*) AS BIGINT) AS n_shared
             |FROM vf x JOIN vf y
             |  ON y.fhash = x.fhash AND x.media_id < y.media_id
             |JOIN dfc ON dfc.fhash = x.fhash
             |GROUP BY 1, 2
             |HAVING COUNT(*) >= 2
             |ORDER BY a, b""".stripMargin)),

    // --- Count-min-sketch calibration: deterministic 4x1024 CMS over
    //     the event user stream; top-10 exact heavy hitters with the
    //     sketch estimate and exact-ppm overestimate.
    QueryDef(
      "q120_cms_calibration",
      (s, dir) => KeyStats.cmsCalibration(
        Tables(s, dir, "events"), "user_id"),
      Some(s"""WITH counts AS (
             |  SELECT CAST(user_id AS VARCHAR) AS key,
             |         CAST(COUNT(*) AS BIGINT) AS n
             |  FROM events GROUP BY 1
             |),
             |rc AS (
             |  SELECT key, n, r.r AS r,
             |         ${Dedup.hexToLongSql(
                          "md5(key || '|' || CAST(r.r AS VARCHAR))",
                          1, "strpos")} % 1024 AS c
             |  FROM counts, (SELECT unnest(range(4)) AS r) r
             |),
             |cells AS (SELECT r, c, CAST(SUM(n) AS BIGINT) AS cell
             |          FROM rc GROUP BY 1, 2),
             |est AS (
             |  SELECT rc.key, rc.n, MIN(cells.cell) AS est
             |  FROM rc JOIN cells USING (r, c)
             |  GROUP BY 1, 2
             |),
             |ranked AS (
             |  SELECT key, n, est,
             |         CAST(ROW_NUMBER() OVER (ORDER BY n DESC, key)
             |              AS BIGINT) AS rk
             |  FROM est
             |)
             |SELECT key, n AS exact_n, CAST(est AS BIGINT) AS est_n,
             |       CAST(est - n AS BIGINT) AS overestimate,
             |       CAST((est - n) * 1000000 // n AS BIGINT) AS over_ppm,
             |       rk
             |FROM ranked WHERE rk <= 10 ORDER BY rk""".stripMargin)),

    // --- Bloom-filter decontamination calibration: 16384-bit / 4-hash
    //     bitset over the q57 benchmark shingles, probed by every
    //     training doc; flagged vs exact-contaminated with exact-ppm
    //     false-positive rate over clean docs.
    QueryDef(
      "q121_bloom_decontamination",
      (s, dir) => TextAnalysis.bloomDecontCalibration(
        Tables(s, dir, "documents"), col("doc_id") % 97 === 0),
      Some(s"""WITH $ShinglesCte,
             |bench AS (SELECT doc_id AS bench_id FROM documents
             |          WHERE doc_id % 97 = 0),
             |bsh AS (
             |  SELECT DISTINCT s.shingle
             |  FROM sh s JOIN bench b ON s.doc_id = b.bench_id
             |),
             |bits AS (
             |  SELECT DISTINCT
             |    ${Dedup.hexToLongSql(
                    "md5(shingle || '|' || CAST(j.j AS VARCHAR))",
                    1, "strpos")} % 16384 AS pos
             |  FROM bsh, (SELECT unnest(range(4)) AS j) j
             |),
             |tsh AS (
             |  SELECT DISTINCT s.doc_id, s.shingle FROM sh s
             |  WHERE s.doc_id % 97 <> 0
             |),
             |probes AS (
             |  SELECT doc_id, shingle,
             |    ${Dedup.hexToLongSql(
                    "md5(shingle || '|' || CAST(j.j AS VARCHAR))",
                    1, "strpos")} % 16384 AS pos
             |  FROM tsh, (SELECT unnest(range(4)) AS j) j
             |),
             |flagged AS (
             |  SELECT DISTINCT doc_id
             |  FROM (SELECT p.doc_id, p.shingle, COUNT(*) AS hits
             |        FROM probes p JOIN bits ON bits.pos = p.pos
             |        GROUP BY 1, 2)
             |  WHERE hits = 4
             |),
             |exact AS (
             |  SELECT DISTINCT t.doc_id
             |  FROM tsh t JOIN bsh USING (shingle)
             |),
             |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_train_docs
             |        FROM documents WHERE NOT (doc_id % 97 = 0))
             |SELECT t.n_train_docs,
             |       (SELECT CAST(COUNT(*) AS BIGINT) FROM exact)
             |         AS exact_contaminated,
             |       (SELECT CAST(COUNT(*) AS BIGINT) FROM flagged)
             |         AS bloom_flagged,
             |       (SELECT CAST(COUNT(*) AS BIGINT) FROM flagged)
             |         - (SELECT CAST(COUNT(*) AS BIGINT) FROM exact)
             |         AS false_positives,
             |       CASE WHEN t.n_train_docs = (SELECT COUNT(*) FROM exact)
             |            THEN CAST(0 AS BIGINT)
             |            ELSE CAST(((SELECT COUNT(*) FROM flagged)
             |                  - (SELECT COUNT(*) FROM exact)) * 1000000
             |                 // (t.n_train_docs
             |                     - (SELECT COUNT(*) FROM exact)) AS BIGINT)
             |       END AS fp_ppm_clean
             |FROM tot t""".stripMargin)),

    // --- Semantic dedup (SemDeDup): trained-quantizer clusters (the
    //     q52 k-means prefix, spliced verbatim through `assign` like
    //     the q108 oracle), within-cluster pairs qid<tid, drop every
    //     vector with a lower-id cluster-mate at cosine >= 0.25
    //     (corpus-calibrated — see Similarity.semanticDedup).
    QueryDef(
      "q122_semantic_dedup",
      // k pinned to the oracle's replayed quantizer size; the
      // operator's k=0 default derives k ≈ sqrt(N/2) instead (the
      // scale-correct blocking — see the semanticDedup scaladoc)
      (s, dir) =>
        Similarity.semanticDedup(Tables(s, dir, "embeddings"), k = 8),
      Some {
        val prefix = TrainedIvfChain.substring(0,
          TrainedIvfChain.indexOf(",\nprobes AS ("))
        val dotScored = IvfDotRankCte.substring(0,
          IvfDotRankCte.indexOf(",\nranked AS ("))
        "WITH " + DimsCte + ",\n" + prefix + ",\n" +
          """cand AS (
            |  SELECT x.tid AS qid, y.tid AS tid
            |  FROM assign x JOIN assign y
            |    ON y.k = x.k AND y.tid > x.tid),
            |""".stripMargin + dotScored + ",\n" +
          """dropped AS (
            |  SELECT DISTINCT tid FROM scored WHERE cosine >= 0.25)
            |SELECT CAST(a.k AS BIGINT) AS cluster,
            |       CAST(COUNT(*) AS BIGINT) AS n_vectors,
            |       CAST(COUNT(d.tid) AS BIGINT) AS n_dropped,
            |       CAST((COUNT(*) - COUNT(d.tid)) * 1000000 // COUNT(*)
            |            AS BIGINT) AS keep_ppm
            |FROM assign a LEFT JOIN dropped d ON d.tid = a.tid
            |GROUP BY a.k
            |ORDER BY cluster""".stripMargin
      }),

    // --- Contrastive hard negatives: bounded query set, corpus pairs
    //     restricted to label <> label, exact quantized-cosine rerank
    //     (the shared dot/rank tail).
    QueryDef(
      "q123_hard_negatives",
      (s, dir) => Similarity.hardNegatives(Tables(s, dir, "embeddings")),
      Some("WITH " + DimsCte + ",\n" +
        """cand AS (
          |  SELECT q.vec_id AS qid, t.vec_id AS tid
          |  FROM embeddings q JOIN embeddings t ON t.label <> q.label
          |  WHERE q.vec_id < 10),
          |""".stripMargin + IvfDotRankCte + "\n" +
        """SELECT qid, tid, cosine, rnk FROM ranked WHERE rnk <= 3
          |ORDER BY qid, rnk""".stripMargin)),

    // --- Exact cross-doc substring duplication: shared 8-token
    //     windows -> merged maximal spans (gaps-and-islands) ->
    //     per-source duplicated-token mass.
    QueryDef(
      "q124_substring_spans",
      (s, dir) => TextAnalysis.substringDupSpans(
        Tables(s, dir, "documents")),
      Some(s"""WITH toks AS (
             |  SELECT doc_id, source,
             |         list_filter(string_split(lower(text), ' '),
             |                     t -> t <> '') AS w
             |  FROM documents
             |),
             |wins AS (
             |  SELECT source, doc_id,
             |         unnest(range(1, greatest(len(w) - 6, 1))) AS pos,
             |         unnest(list_transform(range(1, greatest(len(w) - 6, 1)),
             |                i -> md5(array_to_string(w[i:i+7], ' ')))) AS h
             |  FROM toks
             |),
             |dupw AS (
             |  SELECT h FROM (
             |    SELECT h, COUNT(DISTINCT doc_id) AS df FROM wins GROUP BY h)
             |  WHERE df >= 2
             |),
             |hits AS (
             |  SELECT w.source, w.doc_id, w.pos, w.pos + 7 AS endp
             |  FROM wins w JOIN dupw USING (h)
             |),
             |isl AS (
             |  SELECT source, doc_id, pos, endp,
             |         SUM(CASE WHEN pmax IS NULL OR pos > pmax + 1
             |                  THEN 1 ELSE 0 END)
             |           OVER (PARTITION BY doc_id ORDER BY pos) AS isl
             |  FROM (
             |    SELECT source, doc_id, pos, endp,
             |           MAX(endp) OVER (PARTITION BY doc_id ORDER BY pos
             |                ROWS BETWEEN UNBOUNDED PRECEDING
             |                AND 1 PRECEDING) AS pmax
             |    FROM hits)
             |),
             |spans AS (
             |  SELECT source, doc_id, isl, MIN(pos) AS s, MAX(endp) AS e
             |  FROM isl GROUP BY source, doc_id, isl
             |),
             |perdoc AS (
             |  SELECT source, doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans,
             |         CAST(SUM(e - s + 1) AS BIGINT) AS covered
             |  FROM spans GROUP BY source, doc_id
             |),
             |tot AS (
             |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
             |         CAST(SUM(len(w)) AS BIGINT) AS total_tokens
             |  FROM toks GROUP BY source
             |),
             |agg AS (
             |  SELECT source, CAST(COUNT(*) AS BIGINT) AS docs_with_dup,
             |         CAST(SUM(n_spans) AS BIGINT) AS n_spans,
             |         CAST(SUM(covered) AS BIGINT) AS dup_tokens
             |  FROM perdoc GROUP BY source
             |)
             |SELECT t.source, t.n_docs, t.total_tokens,
             |       CAST(COALESCE(a.docs_with_dup, 0) AS BIGINT)
             |         AS docs_with_dup,
             |       CAST(COALESCE(a.n_spans, 0) AS BIGINT) AS n_spans,
             |       CAST(COALESCE(a.dup_tokens, 0) AS BIGINT)
             |         AS dup_tokens,
             |       CAST(COALESCE(a.dup_tokens, 0) * 1000000
             |            // t.total_tokens AS BIGINT) AS dup_ppm
             |FROM tot t LEFT JOIN agg a USING (source)
             |ORDER BY t.source""".stripMargin)),

    // --- DSIR importance scores: hashed-bigram buckets, add-1
    //     smoothed target(lang='en')/corpus ratio in exact ppm
    //     integers, per-doc mean over bigram occurrences, top 20.
    QueryDef(
      "q125_dsir_weights",
      (s, dir) => TextAnalysis.dsirWeights(Tables(s, dir, "documents")),
      Some(s"""WITH toks AS (
             |  SELECT doc_id, lang,
             |         list_filter(string_split(lower(text), ' '),
             |                     t -> t <> '') AS w
             |  FROM documents
             |),
             |bg AS (
             |  SELECT doc_id, lang,
             |         ${Dedup.hexToLongSql("md5(bigram)", 1, "strpos")}
             |           % 4096 AS b
             |  FROM (
             |    SELECT doc_id, lang,
             |           unnest(list_transform(range(1, greatest(len(w), 1)),
             |                  i -> array_to_string(w[i:i+1], ' ')))
             |             AS bigram
             |    FROM toks)
             |),
             |tgt AS (
             |  SELECT b, CAST(COUNT(*) AS BIGINT) AS t_cnt
             |  FROM bg WHERE lang = 'en' GROUP BY b
             |),
             |raw AS (
             |  SELECT b, CAST(COUNT(*) AS BIGINT) AS r_cnt
             |  FROM bg GROUP BY b
             |),
             |wts AS (
             |  SELECT r.b,
             |         (COALESCE(t.t_cnt, 0) + 1) * 1000000 // (r.r_cnt + 1)
             |           AS wt
             |  FROM raw r LEFT JOIN tgt t USING (b)
             |),
             |scored AS (
             |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
             |         SUM(wt) AS wt_sum
             |  FROM bg JOIN wts USING (b) GROUP BY doc_id
             |)
             |SELECT doc_id, n_bigrams,
             |       CAST(wt_sum // n_bigrams AS BIGINT) AS score_ppm
             |FROM scored
             |ORDER BY score_ppm DESC, doc_id
             |LIMIT 20""".stripMargin)),

    // --- Tokenizer fertility by language: regex-subword tokens per
    //     whitespace word + chars per subword token, exact ppm.
    QueryDef(
      "q126_tokenizer_fertility",
      (s, dir) => TextAnalysis.tokenizerFertility(
        Tables(s, dir, "documents")),
      Some("""WITH per AS (
             |  SELECT lang,
             |         CAST(len(list_filter(string_split(lower(text), ' '),
             |              t -> t <> '')) AS BIGINT) AS nw,
             |         CAST(len(regexp_extract_all(lower(text),
             |              '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS BIGINT) AS nb,
             |         n_chars
             |  FROM documents
             |),
             |agg AS (
             |  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
             |         CAST(SUM(nw) AS BIGINT) AS n_words,
             |         CAST(SUM(nb) AS BIGINT) AS n_bpe_tokens,
             |         CAST(SUM(n_chars) AS BIGINT) AS n_chars
             |  FROM per GROUP BY lang
             |)
             |SELECT lang, n_docs, n_words, n_bpe_tokens, n_chars,
             |       CAST(n_bpe_tokens * 1000000 // n_words AS BIGINT)
             |         AS fertility_ppm,
             |       CAST(n_chars * 1000000 // n_bpe_tokens AS BIGINT)
             |         AS chars_per_token_ppm
             |FROM agg
             |ORDER BY lang""".stripMargin)),

    // --- Per-dimension embedding moments: micro-quantized exact
    //     integer sums, fixed-order double mean/variance.
    QueryDef(
      "q127_dim_moments",
      (s, dir) => Similarity.dimMoments(Tables(s, dir, "embeddings")),
      Some("""WITH q AS (
             |  SELECT i,
             |         CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 1000000
             |              + 0.5) AS BIGINT) AS q
             |  FROM embeddings
             |  CROSS JOIN (SELECT unnest(range(1, 65)) AS i)
             |),
             |agg AS (
             |  SELECT i, CAST(COUNT(*) AS BIGINT) AS n,
             |         CAST(SUM(q) AS BIGINT) AS s1,
             |         CAST(SUM(q * q) AS BIGINT) AS s2
             |  FROM q GROUP BY i
             |)
             |SELECT CAST(i AS BIGINT) AS i, n,
             |       CAST(s1 AS DOUBLE) / n / 1000000.0 AS mean,
             |       CAST(s2 AS DOUBLE) / n / 1000000000000.0
             |         - (CAST(s1 AS DOUBLE) / n / 1000000.0)
             |           * (CAST(s1 AS DOUBLE) / n / 1000000.0) AS variance
             |FROM agg
             |ORDER BY i""".stripMargin)),

    // --- Semantic decontamination: bench vectors (vec_id % 97 = 0)
    //     probe their nprobe=2 trained clusters; train members with
    //     cosine >= 0.25 to any bench vector are flagged. The q52
    //     k-means prefix is spliced verbatim through `assign` (fsc in
    //     scope for the bench probes), like q108/q122. k pinned to 8
    //     for the oracle; the operator default derives k ~ sqrt(N/2).
    QueryDef(
      "q128_semantic_decontamination",
      (s, dir) => Similarity.semanticDecontamination(
        Tables(s, dir, "embeddings"), k = 8),
      Some {
        val prefix = TrainedIvfChain.substring(0,
          TrainedIvfChain.indexOf(",\nprobes AS ("))
        val dotScored = IvfDotRankCte.substring(0,
          IvfDotRankCte.indexOf(",\nranked AS ("))
        "WITH " + DimsCte + ",\n" + prefix + ",\n" +
          """bprobes AS (
            |  SELECT vec_id AS qid, k FROM (
            |    SELECT vec_id, k, ROW_NUMBER() OVER (PARTITION BY vec_id
            |           ORDER BY score DESC, k) AS crnk
            |    FROM fsc WHERE vec_id % 97 = 0) x WHERE crnk <= 2),
            |cand AS (
            |  SELECT p.qid, a.tid
            |  FROM bprobes p JOIN assign a ON a.k = p.k
            |  WHERE a.tid % 97 <> 0),
            |""".stripMargin + dotScored + ",\n" +
          """flagged AS (
            |  SELECT DISTINCT tid FROM scored WHERE cosine >= 0.25)
            |SELECT CAST(a.k AS BIGINT) AS cluster,
            |       CAST(COUNT(*) AS BIGINT) AS n_train,
            |       CAST(COUNT(f.tid) AS BIGINT) AS n_flagged,
            |       CAST(COUNT(f.tid) * 1000000 // COUNT(*) AS BIGINT)
            |         AS flagged_ppm
            |FROM assign a LEFT JOIN flagged f ON f.tid = a.tid
            |WHERE a.tid % 97 <> 0
            |GROUP BY a.k
            |ORDER BY cluster""".stripMargin
      }),

    // --- Two-level semantic dedup: TWO independently-trained
    //     quantizers (second chain suffixed `b`, salt '|ivfseed2'),
    //     candidates blocked on the (k1, k2) cell intersection —
    //     the Σ|block|² scale path (k1=k2 ~ N^(1/3) at real scale;
    //     the gate pins 8/8 to the oracle's replayed quantizers).
    //     Report groups by the LEVEL-1 cluster so q122 and q129 are
    //     directly comparable.
    QueryDef(
      "q129_semantic_dedup_two_level",
      (s, dir) => Similarity.semanticDedupTwoLevel(
        Tables(s, dir, "embeddings"), k1 = 8, k2 = 8),
      Some {
        val dotScored = IvfDotRankCte.substring(0,
          IvfDotRankCte.indexOf(",\nranked AS ("))
        "WITH " + DimsCte + ",\n" +
          trainedAssignPrefix("", "|ivfseed") + ",\n" +
          trainedAssignPrefix("b", "|ivfseed2") + ",\n" +
          """cells AS (
            |  SELECT a.tid, a.k, b.k AS k2
            |  FROM assign a JOIN assignb b ON b.tid = a.tid),
            |cand AS (
            |  SELECT x.tid AS qid, y.tid AS tid
            |  FROM cells x JOIN cells y
            |    ON y.k = x.k AND y.k2 = x.k2 AND y.tid > x.tid),
            |""".stripMargin + dotScored + ",\n" +
          """dropped AS (
            |  SELECT DISTINCT tid FROM scored WHERE cosine >= 0.25)
            |SELECT CAST(c.k AS BIGINT) AS cluster,
            |       CAST(COUNT(*) AS BIGINT) AS n_vectors,
            |       CAST(COUNT(d.tid) AS BIGINT) AS n_dropped,
            |       CAST((COUNT(*) - COUNT(d.tid)) * 1000000 // COUNT(*)
            |            AS BIGINT) AS keep_ppm
            |FROM cells c LEFT JOIN dropped d ON d.tid = c.tid
            |GROUP BY c.k
            |ORDER BY cluster""".stripMargin
      }),

    // --- Temperature-balanced source mixture (α = 0.5 square-root
    //     sampling): natural vs √-tempered share per source. α fixed
    //     at 0.5 because sqrt is the one power both engines compute
    //     bit-identically; the weight is micro-quantized immediately
    //     so all downstream arithmetic is exact-integer ppm.
    QueryDef(
      "q130_source_mixture",
      (s, dir) => Sampling.sourceMixture(Tables(s, dir, "documents")),
      Some("""WITH per AS (
             |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
             |         CAST(SUM(len(list_filter(string_split(lower(text), ' '),
             |              t -> t <> ''))) AS BIGINT) AS n_tokens,
             |         CAST(FLOOR(sqrt(CAST(COUNT(*) AS DOUBLE)) * 1000000
             |              + 0.5) AS BIGINT) AS sqrt_w
             |  FROM documents GROUP BY source
             |),
             |tot AS (
             |  SELECT CAST(SUM(n_docs) AS BIGINT) AS t_docs,
             |         CAST(SUM(sqrt_w) AS BIGINT) AS t_sqrt
             |  FROM per
             |)
             |SELECT source, n_docs, n_tokens,
             |       CAST(n_docs * 1000000 // t_docs AS BIGINT) AS natural_ppm,
             |       CAST(sqrt_w * 1000000 // t_sqrt AS BIGINT) AS tempered_ppm,
             |       CASE WHEN n_docs * 1000000 // t_docs = 0 THEN NULL
             |            ELSE CAST((sqrt_w * 1000000 // t_sqrt) * 1000000
             |                 // (n_docs * 1000000 // t_docs) AS BIGINT)
             |       END AS boost_ppm
             |FROM per, tot
             |ORDER BY source""".stripMargin)),

    // --- Context-window packing census at seqLen=512: subword token
    //     mass (the q126 TokenRunCount law), truncation exposure, and
    //     padding waste under CONCAT vs ISOLATED packing.
    QueryDef(
      "q131_packing_census",
      (s, dir) => Sampling.packingReport(Tables(s, dir, "documents")),
      Some("""WITH per AS (
             |  SELECT source,
             |         CAST(len(regexp_extract_all(lower(text),
             |              '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS BIGINT) AS t
             |  FROM documents
             |),
             |agg AS (
             |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
             |         CAST(SUM(t) AS BIGINT) AS n_tokens,
             |         CAST(SUM(CASE WHEN t > 512 THEN 1 ELSE 0 END)
             |              AS BIGINT) AS docs_truncated,
             |         CAST(SUM(GREATEST(t - 512, 0)) AS BIGINT) AS tokens_lost,
             |         CAST(SUM((t + 511) // 512) AS BIGINT) AS isolated_seqs
             |  FROM per GROUP BY source
             |)
             |SELECT source, n_docs, n_tokens, docs_truncated, tokens_lost,
             |       CAST((n_tokens + 511) // 512 AS BIGINT) AS concat_seqs,
             |       isolated_seqs,
             |       CASE WHEN (n_tokens + 511) // 512 = 0 THEN NULL
             |            ELSE CAST((((n_tokens + 511) // 512) * 512 - n_tokens)
             |                 * 1000000
             |                 // (((n_tokens + 511) // 512) * 512) AS BIGINT)
             |       END AS concat_waste_ppm,
             |       CASE WHEN isolated_seqs = 0 THEN NULL
             |            ELSE CAST((isolated_seqs * 512 - n_tokens) * 1000000
             |                 // (isolated_seqs * 512) AS BIGINT)
             |       END AS isolated_waste_ppm
             |FROM agg
             |ORDER BY source""".stripMargin)),

    // --- Hash-threshold sample-rate census (25% target): md5 fold
    //     under the ppm threshold — content-stable on any engine,
    //     never rand(); reports target vs achieved rate per source.
    QueryDef(
      "q132_sample_rate_census",
      (s, dir) => Sampling.sampleRateCensus(Tables(s, dir, "documents")),
      Some(s"""WITH per AS (
             |  SELECT source,
             |         CASE WHEN ${Dedup.hexToLongSql(
                        "md5(doc_id || '|strat')", 1, "strpos")}
             |              * 1000000 < ${250000L * 4294967296L}
             |              THEN 1 ELSE 0 END AS s
             |  FROM documents
             |)
             |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
             |       CAST(SUM(s) AS BIGINT) AS n_sampled,
             |       CAST(250000 AS BIGINT) AS target_ppm,
             |       CAST(SUM(s) * 1000000 // COUNT(*) AS BIGINT)
             |         AS achieved_ppm
             |FROM per GROUP BY source
             |ORDER BY source""".stripMargin)),

    // --- Gopher-style within-document repetition: share of bigram
    //     occurrences held by the doc's most frequent bigram, flagged
    //     at 20% — fires on docs that repeat THEMSELVES (the
    //     cross-doc passes are q104/q112).
    QueryDef(
      "q133_repetition_report",
      (s, dir) => TextAnalysis.repetitionReport(
        Tables(s, dir, "documents")),
      Some("""WITH toks AS (
             |  SELECT doc_id,
             |         list_filter(string_split(lower(text), ' '),
             |                     t -> t <> '') AS w
             |  FROM documents
             |),
             |bg AS (
             |  SELECT doc_id,
             |         unnest(list_transform(range(1, len(w)),
             |                i -> array_to_string(w[i:i+1], ' '))) AS bigram
             |  FROM toks WHERE len(w) >= 2
             |),
             |cnt AS (
             |  SELECT doc_id, bigram, COUNT(*) AS c
             |  FROM bg GROUP BY doc_id, bigram
             |)
             |SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_bigrams,
             |       CAST(MAX(c) AS BIGINT) AS top_bigram_n,
             |       CAST(MAX(c) * 1000000 // SUM(c) AS BIGINT)
             |         AS top_bigram_ppm,
             |       (MAX(c) * 1000000 // SUM(c)) > 200000 AS flagged
             |FROM cnt GROUP BY doc_id
             |ORDER BY doc_id""".stripMargin)),

    // --- Shingle-novelty census: every distinct word 3-gram attributed
    //     to its FIRST doc (min doc_id), per-source novel-vs-inherited
    //     shingle mass — the "does this source still add anything"
    //     acquisition signal (doc-level complement of q77).
    QueryDef(
      "q134_novelty_census",
      (s, dir) => Dedup.noveltyReport(Tables(s, dir, "documents")),
      Some("""WITH toks AS (
             |  SELECT doc_id, source,
             |         list_filter(string_split(lower(text), ' '),
             |                     t -> t <> '') AS w
             |  FROM documents
             |),
             |shraw AS (
             |  SELECT doc_id, source,
             |         unnest(list_transform(range(1, len(w) - 1),
             |                i -> array_to_string(w[i:i+2], ' '))) AS shingle
             |  FROM toks WHERE len(w) >= 3
             |),
             |sh AS (SELECT DISTINCT doc_id, source, shingle FROM shraw),
             |own AS (
             |  SELECT shingle, MIN(doc_id) AS owner FROM sh GROUP BY shingle
             |),
             |perdoc AS (
             |  SELECT s.doc_id, s.source, COUNT(*) AS n_sh,
             |         SUM(CASE WHEN s.doc_id = o.owner THEN 1 ELSE 0 END)
             |           AS n_own
             |  FROM sh s JOIN own o ON o.shingle = s.shingle
             |  GROUP BY s.doc_id, s.source
             |)
             |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
             |       CAST(SUM(n_sh) AS BIGINT) AS n_shingles,
             |       CAST(SUM(n_own) AS BIGINT) AS n_novel_shingles,
             |       CAST(SUM(n_own) * 1000000 // SUM(n_sh) AS BIGINT)
             |         AS novelty_ppm,
             |       CAST(SUM(CASE WHEN n_own = n_sh THEN 1 ELSE 0 END)
             |            AS BIGINT) AS n_fully_novel_docs
             |FROM perdoc GROUP BY source
             |ORDER BY source""".stripMargin)),

    // --- Exact token-length percentiles per source (distinct-value
    //     cumulative construction, integer ranks — never
    //     approx_percentile): the census that tunes seqLen before
    //     q131 prices a packing choice.
    QueryDef(
      "q135_length_percentiles",
      (s, dir) => Sampling.lengthPercentiles(Tables(s, dir, "documents")),
      Some("""WITH per AS (
             |  SELECT source,
             |         CAST(len(regexp_extract_all(lower(text),
             |              '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS BIGINT) AS t
             |  FROM documents
             |),
             |cnt AS (
             |  SELECT source, t, COUNT(*) AS n FROM per GROUP BY source, t
             |),
             |cum AS (
             |  SELECT source, t, n,
             |         SUM(n) OVER (PARTITION BY source ORDER BY t) AS cum
             |  FROM cnt
             |),
             |tot AS (
             |  SELECT source, CAST(SUM(n) AS BIGINT) AS n_docs,
             |         CAST(SUM(t * n) AS BIGINT) AS n_tokens
             |  FROM cnt GROUP BY source
             |)
             |SELECT c.source,
             |       CAST(MIN(t2.n_docs) AS BIGINT) AS n_docs,
             |       CAST(MIN(t2.n_tokens) AS BIGINT) AS n_tokens,
             |       CAST(MIN(c.t) AS BIGINT) AS min_tokens,
             |       CAST(MIN(CASE WHEN c.cum >= (t2.n_docs + 1) // 2
             |                     THEN c.t END) AS BIGINT) AS p50_tokens,
             |       CAST(MIN(CASE WHEN c.cum >= (9 * t2.n_docs + 9) // 10
             |                     THEN c.t END) AS BIGINT) AS p90_tokens,
             |       CAST(MIN(CASE WHEN c.cum >= (99 * t2.n_docs + 99) // 100
             |                     THEN c.t END) AS BIGINT) AS p99_tokens,
             |       CAST(MAX(c.t) AS BIGINT) AS max_tokens
             |FROM cum c JOIN tot t2 USING (source)
             |GROUP BY c.source
             |ORDER BY source""".stripMargin)),

    // --- Per-source boilerplate concentration: mass share of each
    //     source's own top-10 bigrams, exact ppm. High share =
    //     templated source (chrome/headers/generated prose); the
    //     per-SOURCE rollup complementing q69 (per-doc vocab
    //     coverage) and q133 (per-doc dup fraction).
    QueryDef(
      "q136_boilerplate_census",
      (s, dir) => TextAnalysis.boilerplateCensus(Tables(s, dir, "documents")),
      Some("""WITH toks AS (
             |  SELECT source, list_filter(string_split(lower(text), ' '),
             |         t -> t <> '') AS w
             |  FROM documents
             |),
             |pr AS (
             |  SELECT source,
             |         unnest(list_transform(range(1, greatest(len(w), 1)),
             |         i -> {'a': w[i], 'b': w[i+1]})) AS p
             |  FROM toks
             |),
             |counts AS (
             |  SELECT source, p.a AS a, p.b AS b, CAST(COUNT(*) AS BIGINT) AS n
             |  FROM pr GROUP BY 1, 2, 3
             |),
             |ranked AS (
             |  SELECT source, n,
             |         row_number() OVER (PARTITION BY source
             |           ORDER BY n DESC, a, b) AS r
             |  FROM counts
             |)
             |SELECT source,
             |       CAST(SUM(n) AS BIGINT) AS total_bigrams,
             |       CAST(COUNT(*) AS BIGINT) AS distinct_bigrams,
             |       CAST(SUM(CASE WHEN r <= 10 THEN n ELSE 0 END)
             |            AS BIGINT) AS top_mass,
             |       CAST(SUM(CASE WHEN r <= 10 THEN n ELSE 0 END) * 1000000
             |            // SUM(n) AS BIGINT) AS top_ppm
             |FROM ranked GROUP BY source
             |ORDER BY source""".stripMargin)),

    // --- Striding token chunker: overlapping window/stride spans per
    //     document with an engine-exact md5-prefix chunk hash — the
    //     long-doc splitting pass (packSequences' counterpart). Pure
    //     per-row transform; the hash replays bit-for-bit in DuckDB.
    QueryDef(
      "q137_chunk_tokens",
      (s, dir) => TextAnalysis.chunkTokens(Tables(s, dir, "documents")),
      Some(s"""WITH toks AS (
             |  SELECT doc_id, list_filter(string_split(lower(text), ' '),
             |         t -> t <> '') AS w
             |  FROM documents
             |),
             |st AS (
             |  SELECT doc_id, w, unnest(range(0, len(w), 24)) AS start
             |  FROM toks WHERE len(w) > 0
             |)
             |SELECT doc_id,
             |       CAST(start // 24 AS BIGINT) AS chunk_id,
             |       CAST(start AS BIGINT) AS start_tok,
             |       CAST(least(32, len(w) - start) AS BIGINT) AS n_tok,
             |       ${Dedup.hexToLongSql(
                        "md5(array_to_string(w[start+1:start+32], ' '))",
                        1, "strpos")} AS chunk_hash
             |FROM st
             |ORDER BY doc_id, chunk_id""".stripMargin)),

    // --- Chunk-level dedup savings census: token mass reclaimed by
    //     window-granular exact dedup per source (catches chrome
    //     repeated INSIDE otherwise-distinct pages, which whole-doc
    //     dedup misses). Full-md5 group key — collision-free at scale.
    QueryDef(
      "q138_chunk_dedup_census",
      (s, dir) => TextAnalysis.chunkDedupCensus(Tables(s, dir, "documents")),
      Some("""WITH toks AS (
             |  SELECT doc_id, source,
             |         list_filter(string_split(lower(text), ' '),
             |         t -> t <> '') AS w
             |  FROM documents
             |),
             |st AS (
             |  SELECT source, w, unnest(range(0, len(w), 24)) AS start
             |  FROM toks WHERE len(w) > 0
             |),
             |ch AS (
             |  SELECT source,
             |         md5(array_to_string(w[start+1:start+32], ' ')) AS hex,
             |         CAST(least(32, len(w) - start) AS BIGINT) AS n_tok
             |  FROM st
             |),
             |g AS (
             |  SELECT source, hex, CAST(COUNT(*) AS BIGINT) AS cnt,
             |         MIN(n_tok) AS n_tok
             |  FROM ch GROUP BY source, hex
             |)
             |SELECT source,
             |       CAST(SUM(cnt) AS BIGINT) AS n_chunks,
             |       CAST(COUNT(*) AS BIGINT) AS n_distinct_chunks,
             |       CAST(SUM(cnt * n_tok) AS BIGINT) AS chunk_tokens,
             |       CAST(SUM((cnt - 1) * n_tok) AS BIGINT) AS dup_tokens,
             |       CAST(SUM((cnt - 1) * n_tok) * 1000000
             |            // SUM(cnt * n_tok) AS BIGINT) AS dup_ppm
             |FROM g GROUP BY source
             |ORDER BY source""".stripMargin)),

    // --- DAU/WAU stickiness: per epoch week, exact avg-DAU/WAU ratio
    //     in ppm. One corpus-sized distinct (user, day); everything
    //     downstream is bounded by active days/users, not events.
    QueryDef(
      "q139_stickiness",
      (s, dir) => EventFunnel.stickiness(Tables(s, dir, "events")),
      Some("""WITH ud AS (
             |  SELECT DISTINCT user_id,
             |         CAST(FLOOR(EPOCH(ts)) AS BIGINT) // 86400 AS day
             |  FROM events
             |),
             |d AS (
             |  SELECT day // 7 AS wk, day, CAST(COUNT(*) AS BIGINT) AS dau
             |  FROM ud GROUP BY 1, 2
             |),
             |w AS (
             |  SELECT day // 7 AS wk,
             |         CAST(COUNT(DISTINCT user_id) AS BIGINT) AS wau
             |  FROM ud GROUP BY 1
             |)
             |SELECT d.wk,
             |       CAST(COUNT(*) AS BIGINT) AS n_days_active,
             |       CAST(SUM(d.dau) AS BIGINT) AS sum_dau,
             |       CAST(MIN(w.wau) AS BIGINT) AS wau,
             |       CAST(SUM(d.dau) * 1000000 // (7 * MIN(w.wau))
             |            AS BIGINT) AS stickiness_ppm
             |FROM d JOIN w USING (wk) GROUP BY d.wk
             |ORDER BY wk""".stripMargin)),

    // --- Weekly growth accounting: new/retained/resurrected/churned
    //     user flows (retention q64 is the cohort triangle; this is
    //     the week-over-week ledger). churned = prev ACTIVE week's WAU
    //     minus retained (gap-week caveat in the scaladoc).
    QueryDef(
      "q140_growth_accounting",
      (s, dir) => EventFunnel.growthAccounting(Tables(s, dir, "events")),
      Some("""WITH uw AS (
             |  SELECT DISTINCT user_id,
             |         CAST(FLOOR(EPOCH(ts)) AS BIGINT) // 604800 AS wk
             |  FROM events
             |),
             |cl AS (
             |  SELECT user_id, wk,
             |         lag(wk) OVER (PARTITION BY user_id ORDER BY wk) AS prev
             |  FROM uw
             |),
             |weekly AS (
             |  SELECT wk, CAST(COUNT(*) AS BIGINT) AS wau,
             |         CAST(SUM(CASE WHEN prev IS NULL THEN 1 ELSE 0 END)
             |              AS BIGINT) AS n_new,
             |         CAST(SUM(CASE WHEN prev = wk - 1 THEN 1 ELSE 0 END)
             |              AS BIGINT) AS n_retained,
             |         CAST(SUM(CASE WHEN prev IS NOT NULL AND prev < wk - 1
             |              THEN 1 ELSE 0 END) AS BIGINT) AS n_resurrected
             |  FROM cl GROUP BY wk
             |)
             |SELECT wk, wau, n_new, n_retained, n_resurrected,
             |       COALESCE(lag(wau) OVER (ORDER BY wk), 0) - n_retained
             |         AS n_churned
             |FROM weekly ORDER BY wk""".stripMargin)),

    // --- Cross-source near-dup attribution: q32's verified pairs
    //     rolled up per unordered source pair (within-source on the
    //     diagonal) — republication provenance at verified-near-dup
    //     granularity, vs q70's vocabulary-level shingle overlap.
    QueryDef(
      "q141_source_neardup_matrix",
      (s, dir) => Dedup.sourceNearDupMatrix(Tables(s, dir, "documents")),
      Some(s"""WITH $MinhashCte,
             |cand AS (
             |  SELECT DISTINCT m1.doc_id AS a, m2.doc_id AS b
             |  FROM mh m1 JOIN mh m2 ON m1.band = m2.band
             |   AND m1.minhash = m2.minhash AND m1.doc_id < m2.doc_id
             |),
             |cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
             |inter AS (
             |  SELECT c.a, c.b, COUNT(*) AS i
             |  FROM cand c
             |  JOIN sh s1 ON s1.doc_id = c.a
             |  JOIN sh s2 ON s2.doc_id = c.b AND s2.shingle = s1.shingle
             |  GROUP BY c.a, c.b
             |),
             |pairs AS (
             |  SELECT i.a, i.b
             |  FROM inter i JOIN cnt ca ON ca.doc_id = i.a
             |               JOIN cnt cb ON cb.doc_id = i.b
             |  WHERE CAST(i.i AS DOUBLE) / (ca.n + cb.n - i.i) >= 0.5
             |)
             |SELECT least(da.source, db.source) AS s1,
             |       greatest(da.source, db.source) AS s2,
             |       CAST(COUNT(*) AS BIGINT) AS n_pairs
             |FROM pairs p
             |JOIN documents da ON da.doc_id = p.a
             |JOIN documents db ON db.doc_id = p.b
             |GROUP BY 1, 2
             |ORDER BY s1, s2""".stripMargin)),

    // --- Snapshot delta report: per source, docs added/removed/
    //     changed/unchanged between two corpus versions (synthesized
    //     deterministically from the one table: old drops doc_id%11=3,
    //     new drops %13=5 and rewrites text for %7=2).
    QueryDef(
      "q142_snapshot_diff",
      (s, dir) => {
        val d = Tables(s, dir, "documents")
        Dedup.snapshotDiff(
          d.where(expr("doc_id % 11 != 3")),
          d.where(expr("doc_id % 13 != 5")).withColumn("text",
            expr("CASE WHEN doc_id % 7 = 2 THEN text || ' v2' " +
              "ELSE text END")))
      },
      Some("""WITH old AS (
             |  SELECT doc_id, source, text FROM documents
             |  WHERE doc_id % 11 != 3
             |),
             |new AS (
             |  SELECT doc_id, source,
             |         CASE WHEN doc_id % 7 = 2 THEN text || ' v2'
             |              ELSE text END AS text
             |  FROM documents WHERE doc_id % 13 != 5
             |)
             |SELECT COALESCE(n.source, o.source) AS source,
             |       CAST(SUM(CASE WHEN o.doc_id IS NULL
             |            THEN 1 ELSE 0 END) AS BIGINT) AS n_added,
             |       CAST(SUM(CASE WHEN n.doc_id IS NULL
             |            THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
             |       CAST(SUM(CASE WHEN o.doc_id IS NOT NULL
             |            AND n.doc_id IS NOT NULL
             |            AND md5(o.text) IS DISTINCT FROM md5(n.text)
             |            THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
             |       CAST(SUM(CASE WHEN o.doc_id IS NOT NULL
             |            AND n.doc_id IS NOT NULL
             |            AND md5(o.text) IS NOT DISTINCT FROM md5(n.text)
             |            THEN 1 ELSE 0 END) AS BIGINT) AS n_unchanged
             |FROM old o FULL JOIN new n ON o.doc_id = n.doc_id
             |GROUP BY 1
             |ORDER BY source""".stripMargin)),

    // --- Train/val/test leakage census: verified near-dup pairs by
    //     the unordered split pair of their endpoints. Cross-split
    //     rows are evaluation leakage; the reason build() dedups
    //     BEFORE splitting.
    QueryDef(
      "q143_split_leakage",
      (s, dir) => Dedup.splitLeakage(Tables(s, dir, "documents")),
      Some(s"""WITH $MinhashCte,
             |cand AS (
             |  SELECT DISTINCT m1.doc_id AS a, m2.doc_id AS b
             |  FROM mh m1 JOIN mh m2 ON m1.band = m2.band
             |   AND m1.minhash = m2.minhash AND m1.doc_id < m2.doc_id
             |),
             |cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
             |inter AS (
             |  SELECT c.a, c.b, COUNT(*) AS i
             |  FROM cand c
             |  JOIN sh s1 ON s1.doc_id = c.a
             |  JOIN sh s2 ON s2.doc_id = c.b AND s2.shingle = s1.shingle
             |  GROUP BY c.a, c.b
             |),
             |pairs AS (
             |  SELECT i.a, i.b
             |  FROM inter i JOIN cnt ca ON ca.doc_id = i.a
             |               JOIN cnt cb ON cb.doc_id = i.b
             |  WHERE CAST(i.i AS DOUBLE) / (ca.n + cb.n - i.i) >= 0.5
             |),
             |sp AS (
             |  SELECT doc_id,
             |         CASE WHEN bk < 90 THEN 'train'
             |              WHEN bk < 95 THEN 'val' ELSE 'test' END AS split
             |  FROM (SELECT doc_id, ${Dedup.hexToLongSql(
                        "md5(CAST(doc_id AS VARCHAR))", 1, "strpos")} % 100
             |          AS bk FROM documents)
             |),
             |j AS (
             |  SELECT LEAST(s1.split, s2.split) AS split_a,
             |         GREATEST(s1.split, s2.split) AS split_b
             |  FROM pairs p JOIN sp s1 ON s1.doc_id = p.a
             |               JOIN sp s2 ON s2.doc_id = p.b
             |)
             |SELECT split_a, split_b, CAST(COUNT(*) AS BIGINT) AS n_pairs,
             |       split_a <> split_b AS is_leak
             |FROM j GROUP BY split_a, split_b
             |ORDER BY split_a, split_b""".stripMargin)),

    // --- Token-budget greedy selection: content-stable random order
    //     (md5 hash), running subword-token total per source, select
    //     while <= budget. The oracle spells the plain per-source
    //     window; the operator computes the same prefix sums two-phase
    //     (order-aligned hash buckets + offsets) so no single reducer
    //     ever holds a whole source.
    QueryDef(
      "q144_budget_select",
      (s, dir) => Sampling.budgetSelect(Tables(s, dir, "documents")),
      Some(s"""WITH per AS (
             |  SELECT source, doc_id,
             |         CAST(len(regexp_extract_all(lower(text),
             |              '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS BIGINT) AS t,
             |         ${Dedup.hexToLongSql(
                        "md5(doc_id || '|budget')", 1, "strpos")} AS h
             |  FROM documents
             |),
             |c AS (
             |  SELECT source, t,
             |         SUM(t) OVER (PARTITION BY source ORDER BY h, doc_id
             |                      ROWS UNBOUNDED PRECEDING) AS cum
             |  FROM per
             |)
             |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
             |       CAST(SUM(CASE WHEN cum <= 2000 THEN 1 ELSE 0 END)
             |            AS BIGINT) AS n_selected,
             |       CAST(SUM(CASE WHEN cum <= 2000 THEN t ELSE 0 END)
             |            AS BIGINT) AS tokens_selected,
             |       CAST(2000 AS BIGINT) AS budget_tokens,
             |       CAST(SUM(CASE WHEN cum <= 2000 THEN t ELSE 0 END)
             |            * 1000000 // 2000 AS BIGINT) AS utilization_ppm
             |FROM c GROUP BY source ORDER BY source""".stripMargin)),

    // --- Near-dup threshold sweep: verified pair and touched-doc
    //     counts at each candidate threshold from ONE LSH/verify pass;
    //     exact-integer compare (i*1e6 >= t_ppm*u) keeps floats out of
    //     the gate.
    QueryDef(
      "q145_dup_threshold_sweep",
      (s, dir) => Dedup.dupRateSweep(Tables(s, dir, "documents")),
      Some(s"""WITH $MinhashCte,
             |cand AS (
             |  SELECT DISTINCT m1.doc_id AS a, m2.doc_id AS b
             |  FROM mh m1 JOIN mh m2 ON m1.band = m2.band
             |   AND m1.minhash = m2.minhash AND m1.doc_id < m2.doc_id
             |),
             |cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
             |inter AS (
             |  SELECT c.a, c.b, COUNT(*) AS i
             |  FROM cand c
             |  JOIN sh s1 ON s1.doc_id = c.a
             |  JOIN sh s2 ON s2.doc_id = c.b AND s2.shingle = s1.shingle
             |  GROUP BY c.a, c.b
             |),
             |stats AS (
             |  SELECT i.a, i.b, i.i, ca.n + cb.n - i.i AS u
             |  FROM inter i JOIN cnt ca ON ca.doc_id = i.a
             |               JOIN cnt cb ON cb.doc_id = i.b
             |),
             |thr AS (SELECT CAST(unnest([500000, 600000, 700000, 800000,
             |                      900000, 1000000]) AS BIGINT)
             |          AS threshold_ppm),
             |q AS (
             |  SELECT t.threshold_ppm, s.a, s.b
             |  FROM stats s JOIN thr t
             |    ON s.i * 1000000 >= t.threshold_ppm * s.u
             |),
             |np AS (
             |  SELECT threshold_ppm, CAST(COUNT(*) AS BIGINT) AS n_pairs
             |  FROM q GROUP BY threshold_ppm
             |),
             |nd AS (
             |  SELECT threshold_ppm, CAST(COUNT(*) AS BIGINT) AS n_dup_docs
             |  FROM (SELECT threshold_ppm, a AS d FROM q
             |        UNION SELECT threshold_ppm, b FROM q)
             |  GROUP BY threshold_ppm
             |)
             |SELECT t.threshold_ppm AS threshold_ppm,
             |       CAST(COALESCE(np.n_pairs, 0) AS BIGINT) AS n_pairs,
             |       CAST(COALESCE(nd.n_dup_docs, 0) AS BIGINT) AS n_dup_docs
             |FROM thr t LEFT JOIN np USING (threshold_ppm)
             |           LEFT JOIN nd USING (threshold_ppm)
             |ORDER BY threshold_ppm""".stripMargin)),

    // --- Content-defined chunk census: the q138 reclaim table with
    //     CDC boundaries (cut where the windowed-md5 fold of the
    //     trailing 16 chars ≡ 0 mod 32) instead of offset striding.
    //     The gate unions a prefix-injected re-crawl of every 9th doc
    //     (a banner prepended — the edit that zeroes a strided
    //     census's dup signal); CDC boundaries resynchronize after the
    //     banner, so the recrawl source dedups against documents almost
    //     chunk-for-chunk and the census proves the shift-robustness
    //     directly. The oracle spells the cut rule as an exploded
    //     position scan (one md5 per position); the Spark side fuses it
    //     into one codegen'd pass per row (functions/CdcCuts.scala).
    QueryDef(
      "q146_cdc_chunk_census",
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
        val mirror = docs.where(col("doc_id") % 9 === 0)
          .select((col("doc_id") + 2000000L).as("doc_id"),
            concat(lit("refetched with banner: "), col("text")).as("text"),
            col("lang"), lit("recrawl").as("source"), col("n_chars"))
        TextAnalysis.cdcChunkCensus(docs.unionByName(mirror))
      },
      Some(s"""WITH un AS (
             |  SELECT doc_id, text, source FROM documents
             |  UNION ALL
             |  SELECT doc_id + 2000000, 'refetched with banner: ' || text,
             |         'recrawl'
             |  FROM documents WHERE doc_id % 9 = 0
             |),
             |d AS (
             |  SELECT doc_id, source, text,
             |         CAST(length(text) AS BIGINT) AS L
             |  FROM un
             |),
             |pos AS (
             |  SELECT doc_id, p,
             |         md5(substr(text, CAST(p AS INT) - 15, 16)) AS h
             |  FROM (SELECT doc_id, text, unnest(range(16, L + 1)) AS p
             |        FROM d WHERE L >= 16)
             |),
             |cut AS (
             |  SELECT doc_id, p FROM pos
             |  WHERE ${graft.operators.Dedup.hexToLongSql("h", 1, "strpos")}
             |        % 32 = 0
             |  UNION
             |  SELECT doc_id, L AS p FROM d WHERE L > 0
             |),
             |seg AS (
             |  SELECT doc_id,
             |         COALESCE(lag(p) OVER (PARTITION BY doc_id ORDER BY p),
             |                  0) AS s,
             |         p AS e
             |  FROM cut
             |),
             |ch AS (
             |  SELECT d.source,
             |         md5(substr(d.text, CAST(g.s AS INT) + 1,
             |             CAST(g.e - g.s AS INT))) AS hex,
             |         CAST(g.e - g.s AS BIGINT) AS n_chars
             |  FROM seg g JOIN d ON d.doc_id = g.doc_id
             |),
             |g AS (
             |  SELECT source, hex, CAST(COUNT(*) AS BIGINT) AS cnt,
             |         MIN(n_chars) AS n_chars
             |  FROM ch GROUP BY source, hex
             |),
             |gt AS (
             |  SELECT hex, CAST(SUM(cnt) AS BIGINT) AS gcnt
             |  FROM g GROUP BY hex
             |)
             |SELECT source,
             |       CAST(SUM(cnt) AS BIGINT) AS n_chunks,
             |       CAST(COUNT(*) AS BIGINT) AS n_distinct_chunks,
             |       CAST(SUM(cnt * n_chars) AS BIGINT) AS chunk_chars,
             |       CAST(SUM(CASE WHEN gcnt >= 2 THEN cnt * n_chars
             |                ELSE 0 END) AS BIGINT) AS dup_chars,
             |       CAST(SUM(CASE WHEN gcnt >= 2 THEN cnt * n_chars
             |                ELSE 0 END) * 1000000
             |            // SUM(cnt * n_chars) AS BIGINT) AS dup_ppm
             |FROM g JOIN gt USING (hex)
             |GROUP BY source ORDER BY source""".stripMargin)),

    // --- Epoch-capped water-filling token allocator: the mixture
    //     SOLVER (q130/q89 report shares; this finds the allocation
    //     min(cap_s, λ·w_s) whose sum meets the budget, with the
    //     budget small sources can't absorb spilling pro-rata onto the
    //     rest). The gate unions a deliberately tiny 'minisrc' so both
    //     classes are non-empty at every SF (16 saturated / 5 free at
    //     sf0.01, Σ need = 14998 ≤ 15000). Exact λ-search: prefix sums
    //     over the saturation-ratio sort, 128-bit test products.
    QueryDef(
      "q147_waterfill_plan",
      (s, dir) => {
        val docs = Tables(s, dir, "documents").select("source", "text")
        val mini = Tables(s, dir, "documents")
          .where(col("doc_id") % 101 === 0)
          .select(lit("minisrc").as("source"), col("text"))
        Sampling.waterfillPlan(docs.unionByName(mini),
          budgetTokens = 15000L, capPpm = 550000L)
      },
      Some("""WITH un AS (
             |  SELECT source, text FROM documents
             |  UNION ALL
             |  SELECT 'minisrc', text FROM documents WHERE doc_id % 101 = 0
             |),
             |per AS (
             |  SELECT source,
             |         CAST(SUM(len(list_filter(string_split(lower(text),
             |              ' '), t -> t <> ''))) AS BIGINT) AS n_tokens
             |  FROM un GROUP BY source
             |),
             |base AS (
             |  SELECT source, n_tokens,
             |         CAST(FLOOR(sqrt(CAST(n_tokens AS DOUBLE)))
             |           AS BIGINT) AS weight,
             |         (n_tokens // 1000000) * 550000 +
             |         ((n_tokens % 1000000) * 550000) // 1000000
             |           AS cap_tokens
             |  FROM per
             |),
             |keyed AS (
             |  SELECT *, (cap_tokens // greatest(weight, 1)) * 1000000 +
             |         ((cap_tokens % greatest(weight, 1)) * 1000000)
             |         // greatest(weight, 1) AS rk
             |  FROM base
             |),
             |tot AS (SELECT CAST(SUM(weight) AS BIGINT) AS w_tot FROM keyed),
             |flg AS (
             |  SELECT k.*, t.w_tot,
             |         COALESCE(SUM(cap_tokens) OVER (ORDER BY rk, source
             |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
             |           0) AS pre_cap,
             |         COALESCE(SUM(weight) OVER (ORDER BY rk, source
             |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
             |           0) AS pre_w
             |  FROM keyed k, tot t
             |),
             |tested AS (
             |  SELECT *, CASE WHEN CAST(15000 - pre_cap AS HUGEINT) *
             |                     CAST(weight AS HUGEINT)
             |                   >= CAST(cap_tokens AS HUGEINT) *
             |                      CAST(w_tot - pre_w AS HUGEINT)
             |            THEN 1 ELSE 0 END AS pass
             |  FROM flg
             |),
             |satf AS (
             |  SELECT *, MIN(pass) OVER (ORDER BY rk, source
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) = 1
             |    AS saturated
             |  FROM tested
             |),
             |sagg AS (
             |  SELECT CAST(COALESCE(SUM(CASE WHEN saturated
             |           THEN cap_tokens END), 0) AS BIGINT) AS sat_cap,
             |         CAST(COALESCE(SUM(CASE WHEN NOT saturated
             |           THEN weight END), 0) AS BIGINT) AS w_last
             |  FROM satf
             |),
             |need AS (
             |  SELECT source, n_tokens, weight, cap_tokens, saturated,
             |         CASE WHEN saturated THEN cap_tokens
             |              ELSE ((15000 - sat_cap) // greatest(w_last, 1))
             |                   * weight +
             |                   (((15000 - sat_cap) % greatest(w_last, 1))
             |                   * weight) // greatest(w_last, 1)
             |         END AS need_tokens
             |  FROM satf, sagg
             |)
             |SELECT source, n_tokens, weight, cap_tokens, saturated,
             |       need_tokens,
             |       CASE WHEN n_tokens = 0 THEN NULL
             |            ELSE CAST(CAST(need_tokens AS HUGEINT) * 1000000
             |                 // n_tokens AS BIGINT) END AS epochs_ppm,
             |       CAST(CAST(need_tokens AS HUGEINT) * 1000000
             |            // 15000 AS BIGINT) AS share_ppm
             |FROM need ORDER BY source""".stripMargin)),

    // --- Top-20 within-session event-type trigrams: path mining over
    //     the gap-threshold sessions (q22/q75 convention). One
    //     user_id shuffle feeds session assignment AND both trigram
    //     leads (stacked windows, shared sort); deterministic top-K
    //     via the (n DESC, steps ASC) total order.
    QueryDef(
      "q148_session_paths",
      (s, dir) => EventFunnel.sessionPaths(graft.Tables(s, dir, "events")),
      Some("""WITH e AS (
             |  SELECT user_id, event_id,
             |         CAST(FLOOR(EPOCH(ts)) AS BIGINT) AS sec, event_type
             |  FROM events
             |),
             |st AS (
             |  SELECT user_id, event_id, sec, event_type,
             |         CASE WHEN LAG(sec) OVER w IS NULL
             |                OR sec - LAG(sec) OVER w > 1800
             |              THEN 1 ELSE 0 END AS new_s
             |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY sec, event_id)
             |),
             |sid AS (
             |  SELECT user_id, event_id, sec, event_type,
             |         SUM(new_s) OVER (PARTITION BY user_id
             |             ORDER BY sec, event_id
             |             ROWS UNBOUNDED PRECEDING) AS session_id
             |  FROM st
             |),
             |tri AS (
             |  SELECT event_type AS step1,
             |         LEAD(event_type, 1) OVER w AS step2,
             |         LEAD(event_type, 2) OVER w AS step3,
             |         session_id,
             |         LEAD(session_id, 1) OVER w AS s2,
             |         LEAD(session_id, 2) OVER w AS s3
             |  FROM sid WINDOW w AS (PARTITION BY user_id ORDER BY sec, event_id)
             |)
             |SELECT step1, step2, step3, CAST(COUNT(*) AS BIGINT) AS n
             |FROM tri WHERE s2 = session_id AND s3 = session_id
             |GROUP BY 1, 2, 3
             |ORDER BY n DESC, step1, step2, step3 LIMIT 20""".stripMargin)),

    // --- Transition concentration per origin type: modal next event
    //     with exact-ppm share and the Simpson index Σn²/n² (exact
    //     integers → one double division; Shannon entropy would need
    //     an order-sensitive float sum — see the operator's scaladoc).
    QueryDef(
      "q149_transition_concentration",
      (s, dir) =>
        EventFunnel.transitionConcentration(graft.Tables(s, dir, "events")),
      Some("""WITH e AS (
             |  SELECT user_id, event_id,
             |         CAST(FLOOR(EPOCH(ts)) AS BIGINT) AS sec, event_type
             |  FROM events
             |),
             |seq AS (
             |  SELECT event_type AS from_type,
             |         LEAD(event_type) OVER (PARTITION BY user_id
             |              ORDER BY sec, event_id) AS to_type
             |  FROM e
             |),
             |c AS (
             |  SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n
             |  FROM seq WHERE to_type IS NOT NULL GROUP BY 1, 2
             |),
             |r AS (
             |  SELECT from_type, to_type, n,
             |         ROW_NUMBER() OVER (PARTITION BY from_type
             |              ORDER BY n DESC, to_type) AS rnk
             |  FROM c
             |),
             |a AS (
             |  SELECT from_type, CAST(SUM(n) AS BIGINT) AS n_out,
             |         CAST(COUNT(*) AS BIGINT) AS n_next_types,
             |         CAST(SUM(n * n) AS BIGINT) AS sum_sq
             |  FROM c GROUP BY from_type
             |)
             |SELECT a.from_type, a.n_out, a.n_next_types,
             |       r.to_type AS top_to_type,
             |       CAST(r.n * 1000000 // a.n_out AS BIGINT) AS top_share_ppm,
             |       CAST(a.sum_sq AS DOUBLE) /
             |            (CAST(a.n_out AS DOUBLE) * CAST(a.n_out AS DOUBLE))
             |            AS simpson
             |FROM a JOIN r ON r.from_type = a.from_type AND r.rnk = 1
             |ORDER BY a.from_type""".stripMargin)),

    // --- First-touch acquisition attribution: users bucketed by their
    //     first-ever event type, conversion to 'purchase' per bucket.
    //     No window — first event is min(struct) inside the same
    //     user_id hash agg that counts conversions.
    QueryDef(
      "q150_acquisition_attribution",
      (s, dir) =>
        EventFunnel.acquisitionAttribution(graft.Tables(s, dir, "events")),
      Some("""WITH e AS (
             |  SELECT user_id, event_id,
             |         CAST(FLOOR(EPOCH(ts)) AS BIGINT) AS sec, event_type
             |  FROM events
             |),
             |r AS (
             |  SELECT user_id, event_type,
             |         ROW_NUMBER() OVER (PARTITION BY user_id
             |              ORDER BY sec, event_id) AS rn
             |  FROM e
             |),
             |p AS (
             |  SELECT user_id,
             |         CAST(SUM(CASE WHEN event_type = 'purchase'
             |              THEN 1 ELSE 0 END) AS BIGINT) AS conv
             |  FROM e GROUP BY user_id
             |),
             |f AS (SELECT user_id, event_type AS first_type FROM r WHERE rn = 1)
             |SELECT first_type,
             |       CAST(COUNT(*) AS BIGINT) AS n_users,
             |       CAST(SUM(CASE WHEN conv > 0 THEN 1 ELSE 0 END) AS BIGINT)
             |            AS n_converted,
             |       CAST(SUM(conv) AS BIGINT) AS n_conversions,
             |       CAST(SUM(CASE WHEN conv > 0 THEN 1 ELSE 0 END) * 1000000
             |            // COUNT(*) AS BIGINT) AS conversion_ppm,
             |       CAST(SUM(conv) * 1000000 // COUNT(*) AS BIGINT)
             |            AS conversions_per_user_ppm
             |FROM f JOIN p USING (user_id)
             |GROUP BY first_type ORDER BY first_type""".stripMargin)),

    // --- Robust length-outlier census: per-source median/MAD of
    //     n_chars (lower-median rank convention over count tables —
    //     exact integers end to end) and the 3.5×MAD outlier count.
    QueryDef(
      "q151_robust_outliers",
      (s, dir) =>
        Sampling.robustLengthOutliers(Tables(s, dir, "documents")),
      Some("""WITH c AS (
             |  SELECT source, n_chars AS v, CAST(COUNT(*) AS BIGINT) AS n
             |  FROM documents GROUP BY 1, 2
             |),
             |t AS (SELECT source, CAST(SUM(n) AS BIGINT) AS n_docs
             |      FROM c GROUP BY source),
             |mc AS (
             |  SELECT source, v, n,
             |         SUM(n) OVER (PARTITION BY source ORDER BY v) AS cum
             |  FROM c
             |),
             |med AS (
             |  SELECT mc.source,
             |         CAST(MIN(CASE WHEN cum >= (n_docs + 1) // 2 THEN v END)
             |              AS BIGINT) AS med_chars,
             |         CAST(MIN(n_docs) AS BIGINT) AS n_docs
             |  FROM mc JOIN t USING (source) GROUP BY mc.source
             |),
             |d AS (
             |  SELECT c.source, abs(c.v - med.med_chars) AS v,
             |         CAST(SUM(c.n) AS BIGINT) AS n
             |  FROM c JOIN med USING (source) GROUP BY 1, 2
             |),
             |dc AS (
             |  SELECT source, v, n,
             |         SUM(n) OVER (PARTITION BY source ORDER BY v) AS cum
             |  FROM d
             |),
             |mad AS (
             |  SELECT dc.source,
             |         CAST(MIN(CASE WHEN cum >= (n_docs + 1) // 2 THEN v END)
             |              AS BIGINT) AS mad_chars
             |  FROM dc JOIN t USING (source) GROUP BY dc.source
             |)
             |SELECT d.source, CAST(MIN(med.n_docs) AS BIGINT) AS n_docs,
             |       CAST(MIN(med.med_chars) AS BIGINT) AS med_chars,
             |       CAST(MIN(mad.mad_chars) AS BIGINT) AS mad_chars,
             |       CAST(COALESCE(SUM(CASE WHEN d.v * 10 > 35 * mad.mad_chars
             |            THEN d.n END), 0) AS BIGINT) AS n_outliers,
             |       CAST(MAX(d.v) AS BIGINT) AS max_dev
             |FROM d JOIN mad USING (source) JOIN med USING (source)
             |GROUP BY d.source ORDER BY source""".stripMargin)),

    // --- Dedup method agreement: lexical (exact shingle Jaccard) vs
    //     semantic (pico-quantized cosine) verdicts on the LSH
    //     candidate pairs, as a 2×2 confusion census. Both predicates
    //     exact/deterministic — no order-sensitive float ever summed.
    QueryDef(
      "q152_dedup_agreement",
      (s, dir) => Dedup.methodAgreement(
        Tables(s, dir, "documents"), Tables(s, dir, "embeddings")),
      Some(s"""WITH $MinhashCte,
             |cand AS (
             |  SELECT DISTINCT m1.doc_id AS a, m2.doc_id AS b
             |  FROM mh m1 JOIN mh m2 ON m1.band = m2.band
             |   AND m1.minhash = m2.minhash AND m1.doc_id < m2.doc_id
             |),
             |cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
             |inter AS (
             |  SELECT c.a, c.b, COUNT(*) AS i
             |  FROM cand c
             |  JOIN sh s1 ON s1.doc_id = c.a
             |  JOIN sh s2 ON s2.doc_id = c.b AND s2.shingle = s1.shingle
             |  GROUP BY c.a, c.b
             |),
             |pu AS (
             |  SELECT i.a, i.b, i.i, ca.n + cb.n - i.i AS u
             |  FROM inter i JOIN cnt ca ON ca.doc_id = i.a
             |               JOIN cnt cb ON cb.doc_id = i.b
             |),
             |dims AS (
             |  SELECT vec_id, di, CAST(embedding[di] AS DOUBLE) AS v
             |  FROM embeddings CROSS JOIN (SELECT unnest(range(1, 65)) AS di)
             |),
             |nrm AS (
             |  SELECT vec_id,
             |         CAST(SUM(CAST(FLOOR(v * v * 1000000000000 + 0.5)
             |              AS BIGINT)) AS DOUBLE) / 1000000000000 AS n2
             |  FROM dims GROUP BY vec_id
             |),
             |dot AS (
             |  SELECT p.a, p.b,
             |         CAST(SUM(CAST(FLOOR(qa.v * qb.v * 1000000000000 + 0.5)
             |              AS BIGINT)) AS DOUBLE) / 1000000000000 AS d
             |  FROM pu p JOIN dims qa ON qa.vec_id = p.a
             |            JOIN dims qb ON qb.vec_id = p.b AND qb.di = qa.di
             |  GROUP BY p.a, p.b
             |),
             |sc AS (
             |  SELECT p.i, p.u, dot.d / (sqrt(na.n2) * sqrt(nb.n2)) AS cos
             |  FROM pu p JOIN dot ON dot.a = p.a AND dot.b = p.b
             |            JOIN nrm na ON na.vec_id = p.a
             |            JOIN nrm nb ON nb.vec_id = p.b
             |)
             |SELECT i * 1000000 >= 500000 * u AS text_dup,
             |       cos * 1000 >= 900 AS embed_dup,
             |       CAST(COUNT(*) AS BIGINT) AS n_pairs,
             |       CAST(MIN(i * 1000000 // u) AS BIGINT) AS min_jac_ppm,
             |       CAST(MAX(i * 1000000 // u) AS BIGINT) AS max_jac_ppm,
             |       MIN(cos) AS min_cos, MAX(cos) AS max_cos
             |FROM sc GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // --- Time-to-convert census: exact delay percentiles (q110 rank
    //     convention over a (cohort, delay) count table) from first
    //     view to first purchase strictly after it, per acquisition
    //     cohort week.
    QueryDef(
      "q153_time_to_convert",
      (s, dir) => EventFunnel.timeToConvert(graft.Tables(s, dir, "events")),
      Some("""WITH e AS (
             |  SELECT user_id, event_type,
             |         CAST(FLOOR(EPOCH(ts)) AS BIGINT) AS sec
             |  FROM events
             |),
             |f AS (
             |  SELECT user_id, MIN(sec) AS t0
             |  FROM e WHERE event_type = 'view' GROUP BY user_id
             |),
             |cv AS (
             |  SELECT e.user_id, MIN(e.sec) - MIN(f.t0) AS delay,
             |         MIN(f.t0) // 604800 AS cohort_week
             |  FROM e JOIN f USING (user_id)
             |  WHERE e.event_type = 'purchase' AND e.sec > f.t0
             |  GROUP BY e.user_id
             |),
             |c AS (
             |  SELECT cohort_week, delay, CAST(COUNT(*) AS BIGINT) AS n
             |  FROM cv GROUP BY 1, 2
             |),
             |t AS (SELECT cohort_week, CAST(SUM(n) AS BIGINT) AS n_conv
             |      FROM c GROUP BY 1),
             |cm AS (
             |  SELECT cohort_week, delay, n,
             |         SUM(n) OVER (PARTITION BY cohort_week ORDER BY delay)
             |              AS cum
             |  FROM c
             |)
             |SELECT cm.cohort_week,
             |       CAST(MIN(t.n_conv) AS BIGINT) AS n_converted,
             |       CAST(MIN(cm.delay) AS BIGINT) AS min_delay,
             |       CAST(MIN(CASE WHEN cm.cum >= (t.n_conv + 1) // 2
             |            THEN cm.delay END) AS BIGINT) AS p50_delay,
             |       CAST(MIN(CASE WHEN cm.cum >= (9 * t.n_conv + 9) // 10
             |            THEN cm.delay END) AS BIGINT) AS p90_delay,
             |       CAST(MAX(cm.delay) AS BIGINT) AS max_delay
             |FROM cm JOIN t USING (cohort_week)
             |GROUP BY cm.cohort_week ORDER BY cohort_week""".stripMargin)),

    // --- RFM segmentation census: value-based terciles on recency /
    //     frequency / monetary (exact cents; dollar-quantized cut
    //     domain), ≤27-cell rollup. Value cuts, never ntile ranks —
    //     deterministic under ties, no global row-ranking.
    QueryDef(
      "q154_rfm_segments",
      (s, dir) => EventFunnel.rfmSegments(graft.Tables(s, dir, "events")),
      Some("""WITH p AS (
             |  SELECT user_id,
             |         CAST(FLOOR(EPOCH(ts)) AS BIGINT) // 86400 AS day,
             |         CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents
             |  FROM events WHERE event_type = 'purchase'
             |),
             |per AS (
             |  SELECT user_id, MAX(day) AS last_day,
             |         CAST(COUNT(*) AS BIGINT) AS freq,
             |         CAST(SUM(cents) AS BIGINT) AS cents
             |  FROM p GROUP BY user_id
             |),
             |a AS (SELECT MAX(last_day) AS max_day FROM per),
             |u AS (
             |  SELECT user_id, a.max_day - last_day AS recency, freq, cents,
             |         cents // 100 AS dollars
             |  FROM per, a
             |),
             |rc AS (SELECT recency AS v, CAST(COUNT(*) AS BIGINT) AS n
             |       FROM u GROUP BY 1),
             |rcut AS (
             |  SELECT MIN(CASE WHEN cum >= (nu + 2) // 3 THEN v END) AS r_t1,
             |         MIN(CASE WHEN cum >= (2 * nu + 2) // 3 THEN v END) AS r_t2
             |  FROM (SELECT v, SUM(n) OVER (ORDER BY v) AS cum FROM rc),
             |       (SELECT CAST(SUM(n) AS BIGINT) AS nu FROM rc)
             |),
             |fc AS (SELECT freq AS v, CAST(COUNT(*) AS BIGINT) AS n
             |       FROM u GROUP BY 1),
             |fcut AS (
             |  SELECT MIN(CASE WHEN cum >= (nu + 2) // 3 THEN v END) AS f_t1,
             |         MIN(CASE WHEN cum >= (2 * nu + 2) // 3 THEN v END) AS f_t2
             |  FROM (SELECT v, SUM(n) OVER (ORDER BY v) AS cum FROM fc),
             |       (SELECT CAST(SUM(n) AS BIGINT) AS nu FROM fc)
             |),
             |mc AS (SELECT dollars AS v, CAST(COUNT(*) AS BIGINT) AS n
             |       FROM u GROUP BY 1),
             |mcut AS (
             |  SELECT MIN(CASE WHEN cum >= (nu + 2) // 3 THEN v END) AS m_t1,
             |         MIN(CASE WHEN cum >= (2 * nu + 2) // 3 THEN v END) AS m_t2
             |  FROM (SELECT v, SUM(n) OVER (ORDER BY v) AS cum FROM mc),
             |       (SELECT CAST(SUM(n) AS BIGINT) AS nu FROM mc)
             |),
             |seg AS (
             |  SELECT CAST(1 + CAST(recency > r_t1 AS INT)
             |              + CAST(recency > r_t2 AS INT) AS BIGINT) AS r_seg,
             |         CAST(1 + CAST(freq > f_t1 AS INT)
             |              + CAST(freq > f_t2 AS INT) AS BIGINT) AS f_seg,
             |         CAST(1 + CAST(dollars > m_t1 AS INT)
             |              + CAST(dollars > m_t2 AS INT) AS BIGINT) AS m_seg,
             |         freq, cents
             |  FROM u, rcut, fcut, mcut
             |)
             |SELECT r_seg, f_seg, m_seg,
             |       CAST(COUNT(*) AS BIGINT) AS n_users,
             |       CAST(SUM(freq) AS BIGINT) AS n_purchases,
             |       CAST(SUM(cents) AS DOUBLE) / 100 AS monetary_sum
             |FROM seg GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin)),

    // --- Product-quantization census: per-subspace Lloyd codebooks
    //     (md5-ordered sample, exact pico-quantized L2, ties → smaller
    //     code, empty-cluster carryover) + corpus-wide code assignment,
    //     reported as the (subspace, code) usage/error table. The
    //     oracle replays the full training chain statement-for-
    //     statement, q52-style.
    QueryDef(
      "q155_pq_census",
      (s, dir) => Similarity.pqCensus(Tables(s, dir, "embeddings")),
      Some(s"""WITH $PqChain
             |SELECT sub, code, CAST(COUNT(*) AS BIGINT) AS n_vecs,
             |       CAST(SUM(d2) AS BIGINT) AS err_q,
             |       CAST(SUM(d2) AS DOUBLE) / 1000000000000 / COUNT(*) AS mse
             |FROM fa GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // --- PQ asymmetric-distance top-k: the search path over the q155
    //     codebooks — per-query (sub, code) LUT from the full query
    //     vector, candidate distance = m-term exact LONG sum over the
    //     code table, (distance, tid) total-order ranking.
    QueryDef(
      "q156_pq_adc_topk",
      (s, dir) => Similarity.pqAdcTopK(Tables(s, dir, "embeddings")),
      Some(s"""WITH $PqChain,
             |$PqAdcCtes
             |SELECT qid, tid,
             |       CAST(adcq AS DOUBLE) / 1000000000000 AS adc_dist2, rnk
             |FROM rkd WHERE rnk <= 5 ORDER BY qid, rnk""".stripMargin)),

    // --- PQ recall report: |ADC top-5 ∩ exact-L2 top-5| per query —
    //     what the 8-byte compression costs in answer quality; the
    //     closing leg of the q155/q156 trade study. Both rankings are
    //     total orders over exact quantized integers. On THIS corpus
    //     the report reads ≈0 recall at any small codebook (probed
    //     8/16/32 codes: 8/3/6 hits of 50) — the textbook PQ failure
    //     mode on near-isotropic random vectors, where pairwise
    //     distances concentrate and subspace codes carry no signal.
    //     That is the finding the census exists to surface (real
    //     embedding corpora are anisotropic; the blob spec pins 100%
    //     recall the moment structure exists).
    QueryDef(
      "q157_pq_recall",
      (s, dir) => Similarity.pqRecall(Tables(s, dir, "embeddings")),
      Some(s"""WITH $PqChain,
             |$PqAdcCtes,
             |ex AS (
             |  SELECT q.vec_id AS qid, t.vec_id AS tid,
             |         CAST(SUM(CAST(FLOOR((q.v - t.v) * (q.v - t.v)
             |              * 1000000000000 + 0.5) AS BIGINT)) AS BIGINT)
             |              AS d2
             |  FROM dims q JOIN dims t ON t.i = q.i
             |   AND q.vec_id < 10 AND t.vec_id <> q.vec_id
             |  GROUP BY 1, 2),
             |exr AS (
             |  SELECT qid, tid FROM (
             |    SELECT qid, tid, ROW_NUMBER() OVER (PARTITION BY qid
             |           ORDER BY d2, tid) AS rn
             |    FROM ex) x WHERE rn <= 5),
             |h AS (
             |  SELECT a.qid, CAST(COUNT(*) AS BIGINT) AS n
             |  FROM rkd a JOIN exr e ON e.qid = a.qid AND e.tid = a.tid
             |  WHERE a.rnk <= 5
             |  GROUP BY 1)
             |SELECT q.qid, CAST(COALESCE(h.n, 0) AS BIGINT) AS n_hits,
             |       CAST(COALESCE(h.n, 0) * 1000000 // 5 AS BIGINT)
             |            AS recall_ppm
             |FROM (SELECT vec_id AS qid FROM embeddings WHERE vec_id < 10) q
             |LEFT JOIN h USING (qid) ORDER BY qid""".stripMargin)),

    // --- Per-type volume trend: exact-integer least-squares slope of
    //     daily counts (closed form over integer moments, one guarded
    //     double division — never an iterative/float-accumulating fit).
    QueryDef(
      "q158_volume_trend",
      (s, dir) => EventFunnel.volumeTrend(graft.Tables(s, dir, "events")),
      Some("""WITH d AS (
             |  SELECT event_type,
             |         CAST(FLOOR(EPOCH(ts)) AS BIGINT) // 86400 AS day,
             |         CAST(COUNT(*) AS BIGINT) AS n
             |  FROM events GROUP BY 1, 2
             |),
             |a AS (
             |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
             |         CAST(SUM(n) AS BIGINT) AS total,
             |         CAST(MIN(day) AS BIGINT) AS first_day,
             |         CAST(MAX(day) AS BIGINT) AS last_day,
             |         CAST(SUM(day * n) AS BIGINT) AS sxy,
             |         CAST(SUM(day) AS BIGINT) AS sx,
             |         CAST(SUM(day * day) AS BIGINT) AS sxx
             |  FROM d GROUP BY 1
             |)
             |SELECT event_type, n_days, total, first_day, last_day,
             |       CASE WHEN CAST(n_days AS HUGEINT) * sxx
             |                 - CAST(sx AS HUGEINT) * sx = 0 THEN NULL
             |            ELSE CAST(CAST(n_days AS HUGEINT) * sxy
             |                      - CAST(sx AS HUGEINT) * total AS DOUBLE) /
             |                 CAST(CAST(n_days AS HUGEINT) * sxx
             |                      - CAST(sx AS HUGEINT) * sx AS DOUBLE)
             |       END AS slope_per_day
             |FROM a ORDER BY event_type""".stripMargin)),

    // --- Per-source token-count Gini: length inequality from the
    //     collapsed (source, length)-count table — exact closed-form
    //     rank sums (DECIMAL products), never a per-document sort.
    QueryDef(
      "q159_token_gini",
      (s, dir) => TextAnalysis.tokenGini(Tables(s, dir, "documents")),
      Some("""WITH v AS (
             |  SELECT source,
             |         CAST(len(list_filter(string_split(lower(text), ' '),
             |              t -> t <> '')) AS BIGINT) AS v
             |  FROM documents
             |),
             |c AS (SELECT source, v, CAST(COUNT(*) AS BIGINT) AS c
             |      FROM v GROUP BY 1, 2),
             |rk AS (SELECT source, v, c,
             |              CAST(SUM(c) OVER (PARTITION BY source ORDER BY v)
             |                   - c AS BIGINT) AS bef
             |       FROM c),
             |a AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n_docs,
             |             CAST(SUM(c * v) AS BIGINT) AS total_tokens,
             |             SUM(CAST(v AS HUGEINT) *
             |                 (CAST(c AS HUGEINT) * bef + c * (c + 1) // 2))
             |                 AS rsum
             |      FROM rk GROUP BY 1)
             |SELECT source, n_docs, total_tokens,
             |       CASE WHEN CAST(n_docs AS HUGEINT) * total_tokens = 0
             |            THEN NULL
             |            ELSE CAST(2 * rsum - CAST(n_docs + 1 AS HUGEINT)
             |                      * total_tokens AS DOUBLE)
             |                 / CAST(CAST(n_docs AS HUGEINT) * total_tokens
             |                        AS DOUBLE)
             |       END AS gini
             |FROM a ORDER BY source""".stripMargin)),

    // --- Session market-basket: unordered event-type pairs sharing a
    //     session, with exact-ppm support and lift (HUGEINT/DECIMAL
    //     cross products, floored `//`/DIV on both sides).
    QueryDef(
      "q160_type_affinity",
      (s, dir) => EventFunnel.typeAffinity(graft.Tables(s, dir, "events")),
      Some("""WITH e AS (
             |  SELECT user_id, event_id,
             |         CAST(FLOOR(EPOCH(ts)) AS BIGINT) AS sec, event_type
             |  FROM events
             |),
             |sq AS (
             |  SELECT user_id, event_type,
             |         SUM(CASE WHEN prev IS NULL OR sec - prev > 1800
             |                  THEN 1 ELSE 0 END)
             |           OVER (PARTITION BY user_id ORDER BY sec, event_id
             |                 ROWS BETWEEN UNBOUNDED PRECEDING
             |                 AND CURRENT ROW) AS session_id
             |  FROM (SELECT *, LAG(sec) OVER (PARTITION BY user_id
             |               ORDER BY sec, event_id) AS prev FROM e)
             |),
             |st AS (SELECT DISTINCT user_id, session_id, event_type FROM sq),
             |ns AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_sessions
             |       FROM (SELECT DISTINCT user_id, session_id FROM st)),
             |tn AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
             |       FROM st GROUP BY 1),
             |p AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
             |             CAST(COUNT(*) AS BIGINT) AS n_ab
             |      FROM st a JOIN st b
             |        ON a.user_id = b.user_id AND a.session_id = b.session_id
             |       AND a.event_type < b.event_type
             |      GROUP BY 1, 2)
             |SELECT type_a, type_b, n_ab, ta.n AS n_a, tb.n AS n_b,
             |       ns.n_sessions,
             |       n_ab * 1000000 // ns.n_sessions AS support_ppm,
             |       CAST(CAST(n_ab AS HUGEINT) * ns.n_sessions * 1000000
             |            // (CAST(ta.n AS HUGEINT) * tb.n) AS BIGINT)
             |            AS lift_ppm
             |FROM p
             |JOIN tn ta ON ta.event_type = p.type_a
             |JOIN tn tb ON tb.event_type = p.type_b
             |CROSS JOIN ns
             |ORDER BY type_a, type_b""".stripMargin)),

    // --- ISO-weekday seasonality census: integer (epoch-day + 3) % 7,
    //     ROW_NUMBER argmax for the peak day, Simpson concentration in
    //     exact ppm (HUGEINT/DECIMAL quadratic terms).
    QueryDef(
      "q161_weekly_seasonality",
      (s, dir) =>
        EventFunnel.weeklySeasonality(graft.Tables(s, dir, "events")),
      Some("""WITH d AS (
             |  SELECT event_type,
             |         ((CAST(FLOOR(EPOCH(ts)) AS BIGINT) // 86400) + 3) % 7
             |           AS dow
             |  FROM events
             |),
             |c AS (SELECT event_type, dow, CAST(COUNT(*) AS BIGINT) AS n
             |      FROM d GROUP BY 1, 2),
             |r AS (SELECT event_type, dow, n,
             |             ROW_NUMBER() OVER (PARTITION BY event_type
             |                  ORDER BY n DESC, dow) AS rnk
             |      FROM c),
             |a AS (SELECT event_type, CAST(SUM(n) AS BIGINT) AS n_events,
             |             CAST(COUNT(*) AS BIGINT) AS n_active_dows,
             |             SUM(CAST(n AS HUGEINT) * n) AS sum_sq
             |      FROM c GROUP BY 1)
             |SELECT a.event_type, a.n_events, a.n_active_dows,
             |       r.dow AS peak_dow,
             |       r.n * 1000000 // a.n_events AS peak_share_ppm,
             |       CAST(sum_sq * 1000000 // (CAST(a.n_events AS HUGEINT)
             |            * a.n_events) AS BIGINT) AS hhi_ppm
             |FROM a JOIN r ON r.event_type = a.event_type AND r.rnk = 1
             |ORDER BY a.event_type""".stripMargin)),

    // --- Duplicate-spread census over a corpus with KNOWN duplication
    //     structure: the gate channel unions a deterministic cross-
    //     source re-crawl (every 7th doc under source 'recrawl') and an
    //     intra-source re-post (every 3rd doc, same source) — identical
    //     construction both sides, the q98/q114 technique — so the
    //     census exercises both spread shapes at sf0.01 instead of
    //     matching on empty. The text is scanned and digested ONCE:
    //     identical text ⇒ identical hash, so both synthetic legs are
    //     derived from the single hashed projection map-side (a
    //     per-row leg array exploded in the same stage — no second or
    //     third corpus scan, no re-md5; the r12 spelling's three-scan
    //     union was ~3× the text I/O and ~1.5× the digest work).
    QueryDef(
      "q162_dup_spread_census",
      (s, dir) => {
        val noLeg = array().cast("array<struct<source:string>>")
        val legs = Tables(s, dir, "documents")
          .select(col("doc_id"), unhex(md5(col("text"))).as("h"),
            col("source"))
          .select(col("h"), explode(concat(
            array(struct(col("source").as("source"))),
            when(col("doc_id") % 7 === 0,
              array(struct(lit("recrawl").as("source")))).otherwise(noLeg),
            when(col("doc_id") % 3 === 0,
              array(struct(col("source").as("source")))).otherwise(noLeg)))
            .as("leg"))
          .select(col("h"), col("leg.source").as("source"))
        Dedup.dupSpreadCensusHashed(legs)
      },
      Some("""WITH u AS (
             |  SELECT doc_id, text, source FROM documents
             |  UNION ALL
             |  SELECT doc_id + 7000000, text, 'recrawl' FROM documents
             |  WHERE doc_id % 7 = 0
             |  UNION ALL
             |  SELECT doc_id + 9000000, text, source FROM documents
             |  WHERE doc_id % 3 = 0
             |),
             |ps AS (SELECT md5(text) AS h, source,
             |              CAST(COUNT(*) AS BIGINT) AS c
             |       FROM u GROUP BY 1, 2),
             |cl AS (SELECT h, CAST(SUM(c) AS BIGINT) AS size,
             |              CAST(COUNT(*) AS BIGINT) AS n_sources,
             |              CAST(MAX(c) AS BIGINT) AS max_c
             |       FROM ps GROUP BY 1 HAVING SUM(c) >= 2)
             |SELECT size, n_sources,
             |       CAST(COUNT(*) AS BIGINT) AS n_clusters,
             |       CAST(SUM(size) AS BIGINT) AS n_docs,
             |       CAST(SUM(size - max_c) AS BIGINT) AS cross_source_docs,
             |       CAST(SUM(size - max_c) AS BIGINT) * 1000000
             |         // CAST(SUM(size) AS BIGINT) AS spill_ppm
             |FROM cl GROUP BY 1, 2 ORDER BY size, n_sources""".stripMargin),
      // headline since r17: the exact-dup census family in the bench set
      headline = true),

    // --- Per-source unigram drift vs the corpus mixture: exact
    //     total-variation distance in ppm (log-free by design — TV is
    //     pure integer arithmetic where KL/JS would need ln).
    QueryDef(
      "q165_source_drift",
      (s, dir) => TextAnalysis.sourceDrift(Tables(s, dir, "documents")),
      Some("""WITH tok AS (
             |  SELECT source,
             |         unnest(list_filter(string_split(lower(text), ' '),
             |                t -> t <> '')) AS t
             |  FROM documents
             |),
             |cst AS (SELECT source, t, CAST(COUNT(*) AS BIGINT) AS c
             |        FROM tok GROUP BY 1, 2),
             |ct AS (SELECT t, CAST(SUM(c) AS BIGINT) AS g
             |       FROM cst GROUP BY 1),
             |ss AS (SELECT source, CAST(SUM(c) AS BIGINT) AS s_tok,
             |              CAST(COUNT(*) AS BIGINT) AS s_terms
             |       FROM cst GROUP BY 1),
             |tt AS (SELECT CAST(SUM(s_tok) AS BIGINT) AS tot FROM ss),
             |a AS (
             |  SELECT cst.source, MIN(ss.s_tok) AS n_tokens,
             |         MIN(ss.s_terms) AS n_terms, MIN(tt.tot) AS tot,
             |         SUM(ABS(CAST(cst.c AS HUGEINT) * tt.tot
             |                 - CAST(ct.g AS HUGEINT) * ss.s_tok))
             |             AS present,
             |         CAST(SUM(ct.g) AS BIGINT) AS cov
             |  FROM cst JOIN ct USING (t) JOIN ss USING (source)
             |  CROSS JOIN tt
             |  GROUP BY 1)
             |SELECT source, n_tokens, n_terms,
             |       CAST((present + CAST(tot - cov AS HUGEINT) * n_tokens)
             |            * 1000000
             |            // (2 * CAST(n_tokens AS HUGEINT) * tot) AS BIGINT)
             |            AS tv_ppm
             |FROM a ORDER BY source""".stripMargin)),

    // --- Power-user concentration: exact top-1/10/50% event shares
    //     from the collapsed per-user-count value table (no user sort;
    //     the straddling run is sliced arithmetically).
    QueryDef(
      "q166_power_users",
      (s, dir) => EventFunnel.powerUserShare(graft.Tables(s, dir, "events")),
      Some("""WITH uc AS (
             |  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS c
             |  FROM events GROUP BY 1
             |),
             |v AS (SELECT c, CAST(COUNT(*) AS BIGINT) AS users
             |      FROM uc GROUP BY 1),
             |r AS (SELECT c, users,
             |             CAST(SUM(users) OVER (ORDER BY c DESC)
             |                  AS BIGINT) AS cum_users
             |      FROM v),
             |tot AS (SELECT CAST(SUM(users) AS BIGINT) AS n_users,
             |               CAST(SUM(c * users) AS BIGINT) AS n_events
             |        FROM v),
             |k AS (SELECT UNNEST([1, 10, 50]) AS pct)
             |SELECT CAST(k.pct AS BIGINT) AS pct,
             |       MIN((tot.n_users * k.pct + 99) // 100) AS n_top_users,
             |       MIN(tot.n_events) AS n_events,
             |       CAST(SUM(r.c * LEAST(r.users,
             |            GREATEST(0, (tot.n_users * k.pct + 99) // 100
             |                        - (r.cum_users - r.users))))
             |            AS BIGINT) AS events_covered,
             |       CAST(CAST(SUM(r.c * LEAST(r.users,
             |            GREATEST(0, (tot.n_users * k.pct + 99) // 100
             |                        - (r.cum_users - r.users))))
             |            AS HUGEINT) * 1000000 // tot.n_events AS BIGINT)
             |            AS share_ppm
             |FROM r CROSS JOIN tot CROSS JOIN k
             |GROUP BY k.pct, tot.n_events
             |ORDER BY pct""".stripMargin)),

    // --- Rolling 7-day active users per day: collapse to distinct
    //     (user, day) FIRST, then a bounded ×7 fan-out of the collapsed
    //     table — never a per-day re-count or event-sized explode.
    QueryDef(
      "q167_rolling_active",
      (s, dir) => EventFunnel.rollingActive(graft.Tables(s, dir, "events")),
      Some("""WITH ud AS (
             |  SELECT DISTINCT user_id,
             |         CAST(FLOOR(EPOCH(ts)) AS BIGINT) // 86400 AS day
             |  FROM events
             |),
             |span AS (SELECT MAX(day) AS d1 FROM ud),
             |dau AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS dau
             |        FROM ud GROUP BY 1),
             |contrib AS (
             |  SELECT DISTINCT user_id, day + i AS d
             |  FROM ud CROSS JOIN (SELECT unnest(range(0, 7)) AS i)
             |),
             |roll AS (
             |  SELECT d, CAST(COUNT(*) AS BIGINT) AS rolling_active
             |  FROM contrib CROSS JOIN span WHERE d <= d1 GROUP BY 1
             |)
             |SELECT r.d AS day, CAST(COALESCE(dau.dau, 0) AS BIGINT) AS dau,
             |       r.rolling_active,
             |       CAST(COALESCE(dau.dau, 0) * 1000000 // r.rolling_active
             |            AS BIGINT) AS dau_share_ppm
             |FROM roll r LEFT JOIN dau ON dau.day = r.d
             |ORDER BY day""".stripMargin)),

    // --- k-NN label-classification eval: every 17th vector held out,
    //     5-NN majority vote from the rest (exact quantized cosine, q34
    //     ranking discipline, ties → smaller label), per-label accuracy
    //     in exact ppm.
    QueryDef(
      "q168_knn_label_eval",
      (s, dir) => Similarity.knnLabelEval(Tables(s, dir, "embeddings")),
      Some(s"""WITH $DimsCte,
             |lab AS (SELECT vec_id, CAST(label AS BIGINT) AS l
             |        FROM embeddings),
             |dot AS (
             |  SELECT q.vec_id AS qid, t.vec_id AS tid,
             |         CAST(SUM(CAST(FLOOR(q.v * t.v * 1000000000000 + 0.5)
             |              AS BIGINT)) AS DOUBLE) / 1000000000000 AS d
             |  FROM dims q JOIN dims t ON q.i = t.i
             |   AND q.vec_id % 17 = 0 AND t.vec_id % 17 <> 0
             |  GROUP BY 1, 2
             |),
             |scored AS (
             |  SELECT qid, tid, d / (sqrt(nq.n2) * sqrt(nt.n2)) AS cos
             |  FROM dot JOIN norm nq ON nq.vec_id = qid
             |           JOIN norm nt ON nt.vec_id = tid
             |),
             |ranked AS (
             |  SELECT qid, tid,
             |         ROW_NUMBER() OVER (PARTITION BY qid
             |              ORDER BY cos DESC, tid) AS rnk
             |  FROM scored
             |),
             |votes AS (
             |  SELECT r.qid, lt.l AS tlabel, CAST(COUNT(*) AS BIGINT) AS v
             |  FROM ranked r JOIN lab lt ON lt.vec_id = r.tid
             |  WHERE r.rnk <= 5 GROUP BY 1, 2
             |),
             |best AS (
             |  SELECT qid, tlabel AS pred,
             |         ROW_NUMBER() OVER (PARTITION BY qid
             |              ORDER BY v DESC, tlabel) AS vr
             |  FROM votes
             |),
             |p AS (
             |  SELECT b.qid, lq.l AS qlabel, b.pred
             |  FROM best b JOIN lab lq ON lq.vec_id = b.qid WHERE b.vr = 1
             |)
             |SELECT qlabel AS label, CAST(COUNT(*) AS BIGINT) AS n_eval,
             |       CAST(SUM(CASE WHEN pred = qlabel THEN 1 ELSE 0 END)
             |            AS BIGINT) AS n_correct,
             |       CAST(SUM(CASE WHEN pred = qlabel THEN 1 ELSE 0 END)
             |            AS BIGINT) * 1000000 // COUNT(*) AS acc_ppm
             |FROM p GROUP BY 1 ORDER BY label""".stripMargin)),

    // --- Weekday-adjusted volume anomaly census: hot/cold days judged
    //     against their OWN weekday's mean by exact integer cross-
    //     multiplication (HUGEINT/DECIMAL); extreme ratios in floored
    //     ppm. The seasonality-aware upgrade of q71's flat alarm.
    QueryDef(
      "q171_seasonal_anomalies",
      (s, dir) =>
        EventFunnel.seasonalAnomalies(graft.Tables(s, dir, "events")),
      Some("""WITH d AS (
             |  SELECT event_type,
             |         CAST(FLOOR(EPOCH(ts)) AS BIGINT) // 86400 AS day,
             |         CAST(COUNT(*) AS BIGINT) AS n
             |  FROM events GROUP BY 1, 2
             |),
             |dd AS (SELECT event_type, day, n, (day + 3) % 7 AS dow FROM d),
             |dw AS (SELECT event_type, dow,
             |              CAST(SUM(n) AS BIGINT) AS total,
             |              CAST(COUNT(*) AS BIGINT) AS cnt
             |       FROM dd GROUP BY 1, 2),
             |j AS (
             |  SELECT dd.event_type, dd.n, dw.total, dw.cnt,
             |         CAST(CAST(dd.n AS HUGEINT) * dw.cnt * 1000000
             |              // dw.total AS BIGINT) AS ratio_ppm
             |  FROM dd JOIN dw ON dw.event_type = dd.event_type
             |                 AND dw.dow = dd.dow
             |)
             |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
             |       CAST(SUM(CASE WHEN CAST(n AS HUGEINT) * cnt * 100
             |                          > CAST(total AS HUGEINT) * 125
             |                     THEN 1 ELSE 0 END) AS BIGINT)
             |         AS n_high_days,
             |       CAST(SUM(CASE WHEN CAST(n AS HUGEINT) * cnt * 100
             |                          < CAST(total AS HUGEINT) * 75
             |                     THEN 1 ELSE 0 END) AS BIGINT)
             |         AS n_low_days,
             |       MAX(ratio_ppm) AS max_ratio_ppm,
             |       MIN(ratio_ppm) AS min_ratio_ppm
             |FROM j GROUP BY 1 ORDER BY event_type""".stripMargin)),

    // --- The q168 eval on the q52 trained-quantizer blocking (the
    //     documented scale path, now gated): candidates from nprobe=2
    //     nearest clusters instead of the full train corpus; identical
    //     training chain both engines (spliced oracle prefix), same
    //     exact-cosine rank + majority vote + ppm census.
    QueryDef(
      "q172_knn_eval_blocked",
      (s, dir) =>
        Similarity.knnLabelEvalBlocked(Tables(s, dir, "embeddings")),
      Some(s"""WITH $DimsCte,
             |${trainedAssignPrefix("", "|ivfseed")},
             |probes AS (
             |  SELECT vec_id AS qid, k FROM (
             |    SELECT vec_id, k, ROW_NUMBER() OVER (PARTITION BY vec_id
             |           ORDER BY score DESC, k) AS crnk
             |    FROM fsc WHERE vec_id % 17 = 0) x WHERE crnk <= 2),
             |cand AS (
             |  SELECT p.qid, a.tid
             |  FROM probes p JOIN assign a ON a.k = p.k
             |   AND a.tid % 17 <> 0),
             |$IvfDotRankCte,
             |lab AS (SELECT vec_id, CAST(label AS BIGINT) AS l
             |        FROM embeddings),
             |votes AS (
             |  SELECT r.qid, lt.l AS tlabel, CAST(COUNT(*) AS BIGINT) AS v
             |  FROM ranked r JOIN lab lt ON lt.vec_id = r.tid
             |  WHERE r.rnk <= 5 GROUP BY 1, 2
             |),
             |best AS (
             |  SELECT qid, tlabel AS pred,
             |         ROW_NUMBER() OVER (PARTITION BY qid
             |              ORDER BY v DESC, tlabel) AS vr
             |  FROM votes
             |),
             |p AS (
             |  SELECT b.qid, lq.l AS qlabel, b.pred
             |  FROM best b JOIN lab lq ON lq.vec_id = b.qid WHERE b.vr = 1
             |)
             |SELECT qlabel AS label, CAST(COUNT(*) AS BIGINT) AS n_eval,
             |       CAST(SUM(CASE WHEN pred = qlabel THEN 1 ELSE 0 END)
             |            AS BIGINT) AS n_correct,
             |       CAST(SUM(CASE WHEN pred = qlabel THEN 1 ELSE 0 END)
             |            AS BIGINT) * 1000000 // COUNT(*) AS acc_ppm
             |FROM p GROUP BY 1 ORDER BY label""".stripMargin)),

    // --- Exclusive-vocabulary census (q165's provenance companion):
    //     per source, distinct terms seen in NO other source, exact
    //     floored ppm. Collapsed-table algebra only — see
    //     TextAnalysis.exclusiveVocab for the scale shape.
    QueryDef(
      "q177_exclusive_vocab",
      (s, dir) => TextAnalysis.exclusiveVocab(Tables(s, dir, "documents")),
      Some("""WITH st AS (
             |  SELECT DISTINCT source,
             |         unnest(list_filter(string_split(lower(text), ' '),
             |                t -> t <> '')) AS t
             |  FROM documents
             |), tc AS (
             |  SELECT t, CAST(COUNT(*) AS BIGINT) AS nsrc
             |  FROM st GROUP BY 1
             |)
             |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_terms,
             |       CAST(SUM(CASE WHEN nsrc = 1 THEN 1 ELSE 0 END)
             |            AS BIGINT) AS n_exclusive,
             |       CAST(SUM(CASE WHEN nsrc = 1 THEN 1 ELSE 0 END)
             |            AS BIGINT) * 1000000 // COUNT(*) AS excl_ppm
             |FROM st JOIN tc USING (t)
             |GROUP BY 1 ORDER BY source""".stripMargin)),

    // --- Exact nearest-rank token-length percentile bands per source
    //     (p50/p90/p99 + extremes) via rank arithmetic over the
    //     collapsed (source, length) table — never a document sort.
    QueryDef(
      "q178_length_percentiles",
      (s, dir) =>
        TextAnalysis.lengthPercentiles(Tables(s, dir, "documents")),
      Some("""WITH cnt AS (
             |  SELECT source,
             |         CAST(len(list_filter(string_split(lower(text), ' '),
             |                  t -> t <> '')) AS BIGINT) AS v,
             |         CAST(COUNT(*) AS BIGINT) AS c
             |  FROM documents GROUP BY 1, 2
             |), cum AS (
             |  SELECT source, v, c,
             |         SUM(c) OVER (PARTITION BY source ORDER BY v)
             |           AS cum,
             |         SUM(c) OVER (PARTITION BY source) AS n
             |  FROM cnt
             |)
             |SELECT source, CAST(MAX(n) AS BIGINT) AS n_docs,
             |       MIN(v) AS min_len, MAX(v) AS max_len,
             |       MIN(CASE WHEN cum * 100 >= n * 50 THEN v END) AS p50,
             |       MIN(CASE WHEN cum * 100 >= n * 90 THEN v END) AS p90,
             |       MIN(CASE WHEN cum * 100 >= n * 99 THEN v END) AS p99
             |FROM cum GROUP BY 1 ORDER BY source""".stripMargin)),

    // --- Per-label centroid drift vs the global embedding centroid —
    //     exact micro-unit quantization + DECIMAL cross-multiplied
    //     means; see Similarity.centroidShift for the scale shape.
    QueryDef(
      "q179_centroid_shift",
      (s, dir) => Similarity.centroidShift(Tables(s, dir, "embeddings")),
      Some("""WITH qd AS (
             |  SELECT label,
             |         unnest(range(len(embedding))) AS dim,
             |         unnest(list_transform(embedding, x ->
             |           CAST(FLOOR(CAST(x AS DOUBLE) * 1000000 + 0.5)
             |                AS BIGINT))) AS q
             |  FROM embeddings
             |), ld AS (
             |  SELECT label, dim, SUM(q) AS s,
             |         CAST(COUNT(*) AS BIGINT) AS n
             |  FROM qd GROUP BY 1, 2
             |), gd AS (
             |  SELECT dim, CAST(SUM(s) AS BIGINT) AS gs,
             |         CAST(SUM(n) AS BIGINT) AS gn
             |  FROM ld GROUP BY 1
             |), sh AS (
             |  SELECT label, ld.dim, n,
             |         CAST(ABS(CAST(s AS HUGEINT) * gn
             |                  - CAST(gs AS HUGEINT) * n)
             |              // (CAST(n AS HUGEINT) * gn) AS BIGINT)
             |           AS shift
             |  FROM ld JOIN gd USING (dim)
             |), r AS (
             |  SELECT label, dim, n, shift,
             |         ROW_NUMBER() OVER (PARTITION BY label
             |              ORDER BY shift DESC, dim) AS rk
             |  FROM sh
             |)
             |SELECT label, MAX(n) AS n_vecs,
             |       CAST(SUM(shift) AS BIGINT) AS drift_l1,
             |       MAX(CASE WHEN rk = 1 THEN dim END) AS top_dim,
             |       MAX(CASE WHEN rk = 1 THEN shift END) AS top_shift
             |FROM r GROUP BY 1 ORDER BY label""".stripMargin)),

    // --- Per-label L2-norm band census: pico-quantized self-dot,
    //     integer tenth-of-unit-norm² bands — see Similarity.normBands.
    QueryDef(
      "q182_norm_bands",
      (s, dir) => Similarity.normBands(Tables(s, dir, "embeddings")),
      Some("""WITH n2 AS (
             |  SELECT label,
             |         list_sum(list_transform(embedding, x ->
             |           CAST(FLOOR(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)
             |                      * 1e12 + 0.5) AS BIGINT))) AS n2q
             |  FROM embeddings
             |)
             |SELECT label,
             |       CAST(n2q // 100000000000 AS BIGINT) AS band,
             |       CAST(COUNT(*) AS BIGINT) AS n
             |FROM n2 GROUP BY 1, 2
             |ORDER BY label, band""".stripMargin),
      // headline since r17: the embedding-scan family in the bench set
      headline = true),

    // --- Exact nearest-rank value-percentile bands per event type
    //     (p50/p90/p99 in cents + extremes) — the q178 rank arithmetic
    //     on the events ledger; see EventFunnel.valuePercentiles.
    QueryDef(
      "q183_value_percentiles",
      (s, dir) => EventFunnel.valuePercentiles(Tables(s, dir, "events")),
      Some("""WITH cnt AS (
             |  SELECT event_type,
             |         CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS v,
             |         CAST(COUNT(*) AS BIGINT) AS c
             |  FROM events GROUP BY 1, 2
             |), cum AS (
             |  SELECT event_type, v, c,
             |         SUM(c) OVER (PARTITION BY event_type ORDER BY v)
             |           AS cum,
             |         SUM(c) OVER (PARTITION BY event_type) AS n
             |  FROM cnt
             |)
             |SELECT event_type, CAST(MAX(n) AS BIGINT) AS n_events,
             |       MIN(v) AS min_cents, MAX(v) AS max_cents,
             |       MIN(CASE WHEN cum * 100 >= n * 50 THEN v END) AS p50,
             |       MIN(CASE WHEN cum * 100 >= n * 90 THEN v END) AS p90,
             |       MIN(CASE WHEN cum * 100 >= n * 99 THEN v END) AS p99
             |FROM cum GROUP BY 1 ORDER BY event_type""".stripMargin)),

    // --- Cross-source exact-dup matrix over the q162 known-duplication
    //     channel (same single-scan hashed legs: identical text ⇒
    //     identical digest, so the synthetic re-crawl/re-post legs
    //     derive map-side from one projection) — BETWEEN WHOM the
    //     duplication leaks, next to q162's how-much.
    QueryDef(
      "q184_cross_source_matrix",
      (s, dir) => {
        val noLeg = array().cast("array<struct<source:string>>")
        val legs = Tables(s, dir, "documents")
          .select(col("doc_id"), unhex(md5(col("text"))).as("h"),
            col("source"))
          .select(col("h"), explode(concat(
            array(struct(col("source").as("source"))),
            when(col("doc_id") % 7 === 0,
              array(struct(lit("recrawl").as("source")))).otherwise(noLeg),
            when(col("doc_id") % 3 === 0,
              array(struct(col("source").as("source")))).otherwise(noLeg)))
            .as("leg"))
          .select(col("h"), col("leg.source").as("source"))
        Dedup.crossSourceDupMatrixHashed(legs)
      },
      Some("""WITH u AS (
             |  SELECT text, source FROM documents
             |  UNION ALL
             |  SELECT text, 'recrawl' FROM documents WHERE doc_id % 7 = 0
             |  UNION ALL
             |  SELECT text, source FROM documents WHERE doc_id % 3 = 0
             |),
             |hs AS (SELECT DISTINCT md5(text) AS h, source FROM u)
             |SELECT a.source AS source_a, b.source AS source_b,
             |       CAST(COUNT(*) AS BIGINT) AS n_shared_texts
             |FROM hs a JOIN hs b ON a.h = b.h AND a.source < b.source
             |GROUP BY 1, 2 ORDER BY source_a, source_b""".stripMargin)),

    // --- Burstiness census (r13): users classified by the exact
    //     variance-to-mean ratio of their daily event counts via
    //     integer cross-multiplication — see
    //     [[EventFunnel.burstinessCensus]] for the 100 TB shape.
    QueryDef(
      "q191_burstiness_census",
      (s, dir) =>
        EventFunnel.burstinessCensus(graft.Tables(s, dir, "events")),
      Some("""WITH ud AS (
             |  SELECT user_id,
             |         CAST(FLOOR(EPOCH(ts)) AS BIGINT) // 86400 AS day,
             |         CAST(COUNT(*) AS BIGINT) AS c
             |  FROM events GROUP BY 1, 2),
             |u AS (
             |  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n,
             |         CAST(SUM(c) AS BIGINT) AS s1,
             |         CAST(SUM(c * c) AS BIGINT) AS s2
             |  FROM ud GROUP BY 1),
             |cl AS (
             |  SELECT CASE WHEN n = 1 THEN 'single-day'
             |              WHEN CAST(n AS HUGEINT) * s2
             |                     - CAST(s1 AS HUGEINT) * s1
             |                   > CAST(n AS HUGEINT) * s1 THEN 'bursty'
             |              ELSE 'steady' END AS activity_class,
             |         s1
             |  FROM u)
             |SELECT activity_class,
             |       CAST(COUNT(*) AS BIGINT) AS n_users,
             |       CAST(SUM(s1) AS BIGINT) AS n_events,
             |       COUNT(*) * 1000000
             |         // (SELECT COUNT(*) FROM cl) AS user_share_ppm
             |FROM cl GROUP BY 1 ORDER BY activity_class""".stripMargin)),

    // --- Centroid-assignment purity (r13): share of vectors per label
    //     whose own-label centroid is nearest under exact n²-scaled
    //     squared L2 — see [[Similarity.centroidPurity]] for the
    //     broadcast-forall 100 TB shape.
    QueryDef(
      "q192_centroid_purity",
      (s, dir) =>
        Similarity.centroidPurity(Tables(s, dir, "embeddings")),
      Some("""WITH q AS (
             |  SELECT e.vec_id, e.label, d.i AS dim,
             |         CAST(FLOOR(CAST(e.embedding[d.i] AS DOUBLE)
             |              * 1000000 + 0.5) AS BIGINT) AS qv
             |  FROM embeddings e
             |  CROSS JOIN (SELECT unnest(range(1, 65)) AS i) d),
             |ls AS (
             |  SELECT label, dim, CAST(SUM(qv) AS BIGINT) AS s,
             |         CAST(COUNT(*) AS BIGINT) AS n
             |  FROM q GROUP BY 1, 2),
             |d AS (
             |  SELECT q.vec_id, q.label, ls.label AS clabel, ls.n,
             |         SUM(CAST(ls.n * qv - s AS HUGEINT)
             |             * (ls.n * qv - s)) AS dist
             |  FROM q JOIN ls ON ls.dim = q.dim
             |  GROUP BY 1, 2, 3, 4),
             |own AS (
             |  SELECT vec_id, label, n AS na, dist AS da
             |  FROM d WHERE clabel = label),
             |fl AS (
             |  SELECT o.vec_id, o.label,
             |         BOOL_AND(o.da * (CAST(d.n AS HUGEINT) * d.n)
             |                  <= d.dist * (CAST(o.na AS HUGEINT) * o.na))
             |           AS pure
             |  FROM own o JOIN d
             |    ON d.vec_id = o.vec_id AND d.clabel <> o.label
             |  GROUP BY 1, 2)
             |SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vecs,
             |       CAST(SUM(CASE WHEN pure THEN 1 ELSE 0 END) AS BIGINT)
             |         AS n_pure,
             |       CAST(SUM(CASE WHEN pure THEN 1 ELSE 0 END) * 1000000
             |            // COUNT(*) AS BIGINT) AS purity_ppm
             |FROM fl GROUP BY 1 ORDER BY label""".stripMargin)),

    // --- Inter-event gap census (r13): consecutive same-user gaps
    //     bucketed into time bands — the cadence diagnostic behind
    //     sessionization thresholds and streaming state timeouts. See
    //     [[EventFunnel.gapBandCensus]] for the 100 TB shape (per-user
    //     sorted arrays; the exploded gaps collapse map-side to 4 band
    //     counters).
    QueryDef(
      "q196_gap_band_census",
      (s, dir) => EventFunnel.gapBandCensus(graft.Tables(s, dir, "events")),
      Some("""WITH e AS (SELECT user_id,
             |                  CAST(FLOOR(EPOCH(ts)) AS BIGINT) AS sec
             |           FROM events),
             |g AS (SELECT sec - LAG(sec) OVER
             |               (PARTITION BY user_id ORDER BY sec) AS gap
             |      FROM e),
             |gg AS (SELECT CASE WHEN gap < 60 THEN 'a_lt_1m'
             |                   WHEN gap < 3600 THEN 'b_1m_1h'
             |                   WHEN gap < 86400 THEN 'c_1h_1d'
             |                   ELSE 'd_ge_1d' END AS gap_band
             |       FROM g WHERE gap IS NOT NULL)
             |SELECT gap_band, CAST(COUNT(*) AS BIGINT) AS n_gaps,
             |       COUNT(*) * 1000000 // (SELECT COUNT(*) FROM gg)
             |         AS share_ppm
             |FROM gg GROUP BY 1 ORDER BY gap_band""".stripMargin)),

    // --- Session-depth census (r13): q22's sessions histogrammed by
    //     event count — bounce-vs-trajectory shape before per-session
    //     features are priced. See [[EventFunnel.sessionDepthCensus]]
    //     (session sizes derived INSIDE the per-user sorted array; only
    //     ≤5 band counters cross the second exchange).
    QueryDef(
      "q197_session_depth_census",
      (s, dir) => EventFunnel.sessionDepthCensus(graft.Tables(s, dir, "events")),
      Some("""WITH e AS (SELECT user_id,
             |                  CAST(FLOOR(EPOCH(ts)) AS BIGINT) AS sec
             |           FROM events),
             |flags AS (SELECT user_id, sec,
             |                 CASE WHEN LAG(sec) OVER w IS NULL THEN 1
             |                      WHEN sec - LAG(sec) OVER w > 1800 THEN 1
             |                      ELSE 0 END AS new_session
             |          FROM e
             |          WINDOW w AS (PARTITION BY user_id ORDER BY sec)),
             |sess AS (SELECT user_id,
             |                SUM(new_session) OVER
             |                  (PARTITION BY user_id ORDER BY sec
             |                   ROWS UNBOUNDED PRECEDING) AS sid
             |         FROM flags),
             |d AS (SELECT user_id, sid, COUNT(*) AS n_ev
             |      FROM sess GROUP BY 1, 2)
             |SELECT CASE WHEN n_ev = 1 THEN 'a_1'
             |            WHEN n_ev <= 3 THEN 'b_2_3'
             |            WHEN n_ev <= 7 THEN 'c_4_7'
             |            WHEN n_ev <= 15 THEN 'd_8_15'
             |            ELSE 'e_16_plus' END AS depth_band,
             |       CAST(COUNT(*) AS BIGINT) AS n_sessions,
             |       CAST(SUM(n_ev) AS BIGINT) AS n_events,
             |       COUNT(*) * 1000000 // (SELECT COUNT(*) FROM d)
             |         AS session_share_ppm
             |FROM d GROUP BY 1 ORDER BY depth_band""".stripMargin)),

    // --- Exact two-sample KS drift matrix (r13): per event-type pair,
    //     the Kolmogorov–Smirnov statistic between `value`
    //     distributions as integer cross-multiplied ppm — the
    //     distribution-shift test behind "can these streams share a
    //     model". See [[EventFunnel.ksValueDrift]] (one (type, cents)
    //     corpus collapse; everything after is value-domain-bounded;
    //     DECIMAL(38,0) products).
    QueryDef(
      "q198_ks_value_drift",
      (s, dir) => EventFunnel.ksValueDrift(graft.Tables(s, dir, "events")),
      Some("""WITH ev AS (SELECT event_type AS t,
             |                   CAST(FLOOR(value*100 + 0.5) AS BIGINT) AS v
             |            FROM events),
             |c AS (SELECT t, v, CAST(COUNT(*) AS BIGINT) AS c
             |      FROM ev GROUP BY 1, 2),
             |tot AS (SELECT t, CAST(SUM(c) AS BIGINT) AS n
             |        FROM c GROUP BY 1),
             |pairs AS (SELECT a.t AS ta, b.t AS tb, a.n AS na, b.n AS nb
             |          FROM tot a JOIN tot b ON a.t < b.t),
             |sided AS (SELECT p.ta, p.tb, p.na, p.nb, c.v,
             |                 CASE WHEN c.t = p.ta THEN c.c ELSE 0 END AS ca,
             |                 CASE WHEN c.t = p.tb THEN c.c ELSE 0 END AS cb
             |          FROM c JOIN pairs p ON c.t = p.ta OR c.t = p.tb),
             |m AS (SELECT ta, tb, na, nb, v,
             |             SUM(ca) AS ca, SUM(cb) AS cb
             |      FROM sided GROUP BY 1, 2, 3, 4, 5),
             |cum AS (SELECT ta, tb, na, nb,
             |               SUM(ca) OVER w AS cuma, SUM(cb) OVER w AS cumb
             |        FROM m
             |        WINDOW w AS (PARTITION BY ta, tb ORDER BY v))
             |SELECT ta AS type_a, tb AS type_b, na AS n_a, nb AS n_b,
             |       CAST(MAX(ABS(CAST(cuma AS HUGEINT) * nb
             |                    - CAST(cumb AS HUGEINT) * na)) * 1000000
             |            // (CAST(na AS HUGEINT) * nb) AS BIGINT) AS ks_ppm
             |FROM cum GROUP BY 1, 2, 3, 4
             |ORDER BY type_a, type_b""".stripMargin)),

    // --- Cosine-band pair census (r13): sampled embedding pairs
    //     histogrammed into cosine bands via sqrt-free integer
    //     cross-multiplication — the calibration read before picking a
    //     semantic-dedup threshold. See [[Similarity.cosineBandCensus]]
    //     (A-side broadcast with documented bound; band counters
    //     collapse map-side; DECIMAL(38,0) squares).
    QueryDef(
      "q199_cosine_band_census",
      // mods pinned to the published 7/11 sample the oracle hardcodes:
      // the scale-adaptive default (cosineBandPlan) picks LARGER mods
      // past ~9800 embeddings and would sample a different pair set
      // than this SQL — gate and oracle must sample identically at any
      // corpus size (r13 ADVICE). The adaptive arm is oracle-verified
      // end-to-end by q200_cosine_band_adaptive (below), whose oracle
      // computes the mods from COUNT(*) with cosineBandPlan's formula.
      (s, dir) => Similarity.cosineBandCensus(
        Tables(s, dir, "embeddings"), 7, 11),
      Some("""WITH q AS (
             |  SELECT vec_id,
             |         list_transform(embedding,
             |           x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000000 + 0.5)
             |                     AS BIGINT)) AS qv
             |  FROM embeddings),
             |n AS (
             |  SELECT vec_id, qv,
             |         list_sum(list_transform(qv, x -> x * x)) AS nrm2
             |  FROM q),
             |p AS (
             |  SELECT a.nrm2 AS na, b.nrm2 AS nb,
             |         list_sum(list_transform(range(1, 65),
             |           i -> a.qv[i] * b.qv[i])) AS dot
             |  FROM n a JOIN n b ON a.vec_id < b.vec_id
             |  WHERE a.vec_id % 7 = 0 AND b.vec_id % 11 = 0),
             |bands AS (
             |  SELECT CASE
             |           WHEN CAST(na AS HUGEINT) * nb = 0 THEN 'z_zero'
             |           WHEN dot < 0 THEN 'a_neg'
             |           WHEN CAST(dot AS HUGEINT) * dot * 16
             |                < CAST(na AS HUGEINT) * nb THEN 'b_lt_25'
             |           WHEN CAST(dot AS HUGEINT) * dot * 4
             |                < CAST(na AS HUGEINT) * nb THEN 'c_25_50'
             |           WHEN CAST(dot AS HUGEINT) * dot * 16
             |                < CAST(na AS HUGEINT) * nb * 9 THEN 'd_50_75'
             |           ELSE 'e_ge_75' END AS sim_band
             |  FROM p)
             |SELECT sim_band, CAST(COUNT(*) AS BIGINT) AS n_pairs,
             |       COUNT(*) * 1000000 // (SELECT COUNT(*) FROM bands)
             |         AS pair_share_ppm
             |FROM bands GROUP BY 1 ORDER BY sim_band""".stripMargin)),

    // --- Adaptive-mods cosine-band census (r15, VERDICT r14 ask #7):
    //     the SAME census on the scale-adaptive default arm — the
    //     branch that runs in production past ~9800 embeddings — made
    //     oracle-checkable via a deterministic 26× replica fixture
    //     channel (explode on the Spark side, CROSS JOIN range in the
    //     oracle; ids disjoint by construction since vec_id < 100000).
    //     The oracle computes the mods from COUNT(*) with the SAME
    //     sizing rule as [[Similarity.cosineBandPlan]] (GREATEST(7,
    //     ⌈n/1400⌉) / GREATEST(11, ⌈n/900⌉)), so any drift between the
    //     driver-side plan and the published formula hash-mismatches.
    //     13 000 vectors at sf0.001/0.01 → mods (10, 15); 52 000 at
    //     sf0.1 → (38, 58): the adaptive arm is exercised at EVERY
    //     gate SF, and the sampled pair budget stays ~constant — the
    //     budget-constancy design claim, now oracle-verified.
    QueryDef(
      "q200_cosine_band_adaptive",
      (s, dir) => {
        val base = graft.Tables(s, dir, "embeddings")
        val fixture = base
          .select(explode(expr("sequence(0, 25)")).as("r"),
            col("vec_id"), col("embedding"))
          .select((col("r") * 100000L + col("vec_id")).as("vec_id"),
            col("embedding"))
        Similarity.cosineBandCensus(fixture)
      },
      Some("""WITH f AS (
             |  SELECT r.range * 100000 + e.vec_id AS vec_id, e.embedding
             |  FROM embeddings e CROSS JOIN range(0, 26) r),
             |m AS (
             |  SELECT GREATEST(7, (COUNT(*) + 1399) // 1400) AS ma,
             |         GREATEST(11, (COUNT(*) + 899) // 900) AS mb
             |  FROM f),
             |q AS (
             |  SELECT vec_id,
             |         list_transform(embedding,
             |           x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000000 + 0.5)
             |                     AS BIGINT)) AS qv
             |  FROM f),
             |n AS (
             |  SELECT vec_id, qv,
             |         list_sum(list_transform(qv, x -> x * x)) AS nrm2
             |  FROM q),
             |p AS (
             |  SELECT a.nrm2 AS na, b.nrm2 AS nb,
             |         list_sum(list_transform(range(1, 65),
             |           i -> a.qv[i] * b.qv[i])) AS dot
             |  FROM n a JOIN n b ON a.vec_id < b.vec_id
             |  WHERE a.vec_id % (SELECT ma FROM m) = 0
             |    AND b.vec_id % (SELECT mb FROM m) = 0),
             |bands AS (
             |  SELECT CASE
             |           WHEN CAST(na AS HUGEINT) * nb = 0 THEN 'z_zero'
             |           WHEN dot < 0 THEN 'a_neg'
             |           WHEN CAST(dot AS HUGEINT) * dot * 16
             |                < CAST(na AS HUGEINT) * nb THEN 'b_lt_25'
             |           WHEN CAST(dot AS HUGEINT) * dot * 4
             |                < CAST(na AS HUGEINT) * nb THEN 'c_25_50'
             |           WHEN CAST(dot AS HUGEINT) * dot * 16
             |                < CAST(na AS HUGEINT) * nb * 9 THEN 'd_50_75'
             |           ELSE 'e_ge_75' END AS sim_band
             |  FROM p)
             |SELECT sim_band, CAST(COUNT(*) AS BIGINT) AS n_pairs,
             |       COUNT(*) * 1000000 // (SELECT COUNT(*) FROM bands)
             |         AS pair_share_ppm
             |FROM bands GROUP BY 1 ORDER BY sim_band""".stripMargin))
  )

  /** DuckDB replay of the PQ-ADC scoring over [[PqChain]]'s outputs:
    * per-query (sub, code) lookup table from the full query vector,
    * m-term exact sums over the code table, (distance, tid) ranking —
    * ends in `rkd(qid, tid, adcq, rnk)`. Shared by q156 and the q157
    * recall report.
    */
  private lazy val PqAdcCtes: String =
    """qlut AS (
      |  SELECT sd.vec_id AS qid, sd.sub, c.code,
      |         CAST(SUM(CAST(FLOOR((sd.v - c.c) * (sd.v - c.c)
      |              * 1000000000000 + 0.5) AS BIGINT)) AS BIGINT)
      |              AS d2
      |  FROM sd JOIN pc2 c ON c.sub = sd.sub AND c.j = sd.j
      |  WHERE sd.vec_id < 10
      |  GROUP BY 1, 2, 3),
      |sc AS (
      |  SELECT l.qid, f.vec_id AS tid, CAST(SUM(l.d2) AS BIGINT)
      |              AS adcq
      |  FROM fa f JOIN qlut l ON l.sub = f.sub AND l.code = f.code
      |  WHERE f.vec_id <> l.qid
      |  GROUP BY 1, 2),
      |rkd AS (
      |  SELECT qid, tid, adcq,
      |         CAST(ROW_NUMBER() OVER (PARTITION BY qid
      |              ORDER BY adcq, tid) AS BIGINT) AS rnk
      |  FROM sc)""".stripMargin

  /** DuckDB replay of the PQ training + corpus code assignment
    * (mirrors `Similarity.pqTrain`/`pqAssign` statement-for-statement;
    * defaults m=8, dim=64, k=4, sample 64, 2 Lloyd iterations). Ends
    * in `fa(vec_id, sub, code, d2)` — the code table with per-subvector
    * quantization error; `sd` (subvectors) and `pc2` (final codebook)
    * stay in scope for consumers. Shared by the q155 census and the
    * q156 ADC search oracles.
    */
  private lazy val PqChain: String = {
    def iter(n: Int): String = {
      val prev = s"pc${n - 1}"
      s"""pd$n AS (
         |  SELECT ssd.vec_id, ssd.sub, c.code,
         |         CAST(SUM(CAST(FLOOR((ssd.v - c.c) * (ssd.v - c.c)
         |              * 1000000000000 + 0.5) AS BIGINT)) AS BIGINT)
         |              AS d2
         |  FROM ssd JOIN $prev c ON c.sub = ssd.sub AND c.j = ssd.j
         |  GROUP BY 1, 2, 3),
         |pa$n AS (
         |  SELECT vec_id, sub, code FROM (
         |    SELECT vec_id, sub, code,
         |           ROW_NUMBER() OVER (PARTITION BY vec_id, sub
         |                ORDER BY d2, code) AS rn
         |    FROM pd$n) x WHERE rn = 1),
         |pm$n AS (
         |  SELECT a.sub, a.code, ssd.j,
         |         CAST(SUM(CAST(FLOOR(ssd.v * 1000000000000 + 0.5)
         |              AS BIGINT)) AS DOUBLE) / 1000000000000 / COUNT(*)
         |              AS cnew
         |  FROM ssd JOIN pa$n a
         |    ON a.vec_id = ssd.vec_id AND a.sub = ssd.sub
         |  GROUP BY 1, 2, 3),
         |pc$n AS (
         |  SELECT c.sub, c.code, c.j, COALESCE(m.cnew, c.c) AS c
         |  FROM $prev c LEFT JOIN pm$n m
         |    ON m.sub = c.sub AND m.code = c.code AND m.j = c.j)"""
    }
    s"""dims AS (
       |  SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS v
       |  FROM embeddings CROSS JOIN (SELECT unnest(range(1, 65)) AS i)
       |),
       |sd AS (
       |  SELECT vec_id, (i - 1) // 8 AS sub, (i - 1) % 8 AS j, v
       |  FROM dims
       |),
       |rk AS (
       |  SELECT vec_id,
       |         ROW_NUMBER() OVER (ORDER BY md5(vec_id || '|pqseed'))
       |              AS r
       |  FROM embeddings),
       |ssd AS (
       |  SELECT sd.vec_id, sd.sub, sd.j, sd.v, rk.r
       |  FROM sd JOIN rk USING (vec_id) WHERE rk.r <= 64),
       |pc0 AS (
       |  SELECT sub, CAST(r - 1 AS BIGINT) AS code, j, v AS c
       |  FROM ssd WHERE r <= 4),
       |${iter(1)},
       |${iter(2)},
       |fd AS (
       |  SELECT sd.vec_id, sd.sub, c.code,
       |         CAST(SUM(CAST(FLOOR((sd.v - c.c) * (sd.v - c.c)
       |              * 1000000000000 + 0.5) AS BIGINT)) AS BIGINT)
       |              AS d2
       |  FROM sd JOIN pc2 c ON c.sub = sd.sub AND c.j = sd.j
       |  GROUP BY 1, 2, 3),
       |fa AS (
       |  SELECT vec_id, sub, code, d2 FROM (
       |    SELECT vec_id, sub, code, d2,
       |           ROW_NUMBER() OVER (PARTITION BY vec_id, sub
       |                ORDER BY d2, code) AS rn
       |    FROM fd) x WHERE rn = 1)""".stripMargin
  }
}
