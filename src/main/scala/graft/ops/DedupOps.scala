package graft.ops

import org.apache.spark.sql.functions._

import graft.core.{QueryDef, Tables}
import graft.core.Tables.orderedByAll
import graft.dedup.Dedup
import graft.text.TextFunctions

/** Deduplication operator inventory over `documents` / `embeddings`
  * (training-data-pipeline surface; see graft.dedup.Dedup for the
  * scale notes). Oracle SQL is generated from the same constants
  * (shingle k, nHashes, bands, df cap, thresholds) as the Spark side.
  */
object DedupOps {

  // shared constants — single source of truth for Spark AND oracle SQL
  private val ShingleK = 3
  private val NumHashes = 12
  private val NBands = 4
  private val RowsPerBand = 3
  private val MinJaccard = 0.5
  private val MaxShingleDf = 64
  private val SimhashBits = 16
  // cosine threshold τ as exact rational τ² = TauNumSq/TauDenSq.
  // τ=0.4 here: the synthetic embeddings top out at cos≈0.47, so a
  // production-style τ=0.95 would make the check vacuous (0 pairs);
  // the arithmetic is threshold-independent.
  private val TauNumSq = 16L
  private val TauDenSq = 100L

  private val LshPlanes = 16
  private val LshBands = 4
  private val EmbDim = 64   // driver-generated embeddings dimension

  // decontamination: deterministic 10% eval split, ≥3 shared rare
  // shingles flags a (train, test) pair
  private val SplitSeed = "split"
  private val TestRate = 0.1
  private val MinCommon = 3L

  private val sqlToks = "regexp_extract_all(lower(text), '[a-z0-9]+')"

  /** Parse 8 hex chars of an md5 column `h` starting at `off`
    * (1-based) into a BIGINT — shared by the minhash and LSH oracles.
    */
  private def sqlHex2Long(off: Int): String =
    (0 until 8).map { i =>
      s"(strpos('0123456789abcdef', substring(h, ${off + i}, 1)) - 1) * ${1L << (4 * (7 - i))}"
    }.mkString("(", " + ", ")")

  /** DuckDB word-shingle CTE body (same semantics as Dedup.wordShingles). */
  private def sqlShingleCteFrom(src: String, name: String = "sh"): String =
    s"""$name AS (
       |  SELECT doc_id AS id,
       |         list_distinct(list_transform(
       |           range(1, greatest(len(toks) - ${ShingleK - 1}, 1) + 1, 1),
       |           i -> array_to_string(toks[i:i+${ShingleK - 1}], ' '))) AS shingles
       |  FROM (SELECT doc_id, $sqlToks AS toks FROM $src))""".stripMargin
  private val sqlShingleCte = sqlShingleCteFrom("documents")

  /** The shared near-dup pipeline CTE chain — postings → df-capped
    * candidates → exact-Jaccard pairs → symmetrized edges → recursive
    * reachability → min-reachable-id components. Consumes a shingle CTE
    * named `sh`; leaves `post` and `comp` defined. The single SQL
    * source for every oracle that clusters near-dups (d7, d11, d12) —
    * a threshold tweak edits ONE place.
    */
  private def sqlNearDupComponentCtes: String =
    s"""post AS (SELECT id, unnest(shingles) AS shingle FROM sh),
       |rare AS (SELECT shingle FROM post GROUP BY 1 HAVING count(*) <= $MaxShingleDf),
       |blocked AS (SELECT id, shingle FROM post JOIN rare USING (shingle)),
       |cand AS (
       |  SELECT DISTINCT x.id AS id_a, y.id AS id_b
       |  FROM blocked x JOIN blocked y ON x.shingle = y.shingle AND x.id < y.id),
       |pairs AS (
       |  SELECT id_a, id_b
       |  FROM cand JOIN sh a ON cand.id_a = a.id JOIN sh b ON cand.id_b = b.id
       |  WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
       |          / CAST(len(list_distinct(list_concat(a.shingles, b.shingles))) AS DOUBLE) >= $MinJaccard),
       |sym AS (SELECT id_a AS src, id_b AS dst FROM pairs
       |        UNION ALL SELECT id_b, id_a FROM pairs),
       |reach(id, r) AS (
       |  SELECT DISTINCT src, src FROM sym
       |  UNION
       |  SELECT s.src, r.r FROM sym s JOIN reach r ON s.dst = r.id),
       |comp AS (SELECT id, min(r) AS rep FROM reach GROUP BY id)""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    // D1 exact dedup: hash-groupBy on normalized content. One shuffle
    // on the 16-byte key regardless of document size — the canonical
    // first pass of any corpus dedup at 100 TB.
    QueryDef(
      "d1_exact_dedup",
      (s, d) => orderedByAll(
        Dedup.exactGroups(Tables.documents(s, d), "doc_id", "text")),
      Some("""SELECT md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS content_key,
             |       min(doc_id) AS rep_id, count(*) AS n_docs
             |FROM documents GROUP BY 1 ORDER BY ALL""".stripMargin)
    ),
    // D2 n-gram Jaccard near-dup: candidates from a RARE-shingle
    // blocking join (df ≤ MaxShingleDf stop-shingle cap — hot
    // shingles on a repetitive corpus are quadratic death), exact
    // Jaccard over the full shingle sets of the blocked pairs.
    QueryDef(
      "d2_jaccard_pairs",
      (s, d) => orderedByAll(
        Dedup.jaccardPairs(Tables.documents(s, d), "doc_id", "text",
          ShingleK, MinJaccard, MaxShingleDf)),
      Some(
        s"""WITH $sqlShingleCte,
           |post AS (SELECT id, unnest(shingles) AS shingle FROM sh),
           |rare AS (SELECT shingle FROM post GROUP BY 1 HAVING count(*) <= $MaxShingleDf),
           |blocked AS (SELECT id, shingle FROM post JOIN rare USING (shingle)),
           |cand AS (
           |  SELECT DISTINCT x.id AS id_a, y.id AS id_b
           |  FROM blocked x JOIN blocked y ON x.shingle = y.shingle AND x.id < y.id)
           |SELECT id_a, id_b,
           |       CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
           |         / CAST(len(list_distinct(list_concat(a.shingles, b.shingles))) AS DOUBLE) AS jaccard
           |FROM cand JOIN sh a ON cand.id_a = a.id JOIN sh b ON cand.id_b = b.id
           |WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
           |        / CAST(len(list_distinct(list_concat(a.shingles, b.shingles))) AS DOUBLE) >= $MinJaccard
           |ORDER BY ALL""".stripMargin)
    ),
    // D3 MinHash + LSH: 12 min-wise hashes (Kirsch-Mitzenmacher
    // h1 + i·h2 combinations of one md5 digest per shingle), 4 bands
    // × 3 rows; band collision → candidate pair → exact-Jaccard
    // verify. Signature build is one hash aggregate; the band join is
    // the only other shuffle.
    QueryDef(
      "d3_minhash_lsh",
      (s, d) => orderedByAll(
        Dedup.minhashLshPairs(Tables.documents(s, d), "doc_id", "text",
          ShingleK, NumHashes, NBands, RowsPerBand, MinJaccard)),
      Some {
        val minExprs = (0 until NumHashes)
          .map(i => s"min(h1 + $i * h2) AS m$i")
        val bandExprs = (0 until NBands).map { b =>
          val parts = (0 until RowsPerBand)
            .map(r => s"m${b * RowsPerBand + r}::VARCHAR")
          s"concat_ws('-', '$b', ${parts.mkString(", ")})"
        }
        s"""WITH $sqlShingleCte,
           |post AS (SELECT id, unnest(shingles) AS shingle FROM sh),
           |hh AS (SELECT id, ${sqlHex2Long(1)} AS h1, ${sqlHex2Long(9)} AS h2
           |       FROM (SELECT id, md5(shingle) AS h FROM post)),
           |sig AS (SELECT id, ${minExprs.mkString(", ")} FROM hh GROUP BY id),
           |banded AS (SELECT id, unnest([${bandExprs.mkString(", ")}]) AS band FROM sig),
           |cand AS (
           |  SELECT DISTINCT x.id AS id_a, y.id AS id_b
           |  FROM banded x JOIN banded y ON x.band = y.band AND x.id < y.id)
           |SELECT id_a, id_b,
           |       CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
           |         / CAST(len(list_distinct(list_concat(a.shingles, b.shingles))) AS DOUBLE) AS jaccard
           |FROM cand JOIN sh a ON cand.id_a = a.id JOIN sh b ON cand.id_b = b.id
           |WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
           |        / CAST(len(list_distinct(list_concat(a.shingles, b.shingles))) AS DOUBLE) >= $MinJaccard
           |ORDER BY ALL""".stripMargin
      }
    ),
    // D4 SimHash: 16-bit signature, bit = token-hash majority vote;
    // equal signature → near-dup cluster. Map-side signature + one
    // groupBy — the cheapest fuzzy-dedup pass.
    QueryDef(
      "d4_simhash",
      (s, d) => orderedByAll(
        Tables.documents(s, d)
          .select(col("doc_id"), Dedup.simhash(col("text"), SimhashBits).as("simhash"))),
      Some {
        val bitTerms = (0 until SimhashBits).map { j =>
          val hc = j / 4; val sub = 3 - (j % 4)
          s"""CASE WHEN 2 * len(list_filter(hashes,
             |  h -> ((strpos('0123456789abcdef', substring(h, ${hc + 1}, 1)) - 1) // ${1L << sub}) % 2 = 1))
             |  >= len(hashes) THEN ${1L << (SimhashBits - 1 - j)} ELSE 0 END""".stripMargin
        }
        s"""SELECT doc_id, CAST(${bitTerms.mkString(" + ")} AS BIGINT) AS simhash
           |FROM (SELECT doc_id, list_transform($sqlToks, t -> md5(t)) AS hashes FROM documents)
           |ORDER BY ALL""".stripMargin
      }
    ),
    // D4b: the same SimHash signature through the NATIVE Catalyst
    // expression (graft.functions.SimHashSig, doGenCode single-pass
    // md5 + vote tally) — oracle-identical to d4's Column-composition
    // form, proving the fast path computes the same bits.
    QueryDef(
      "d6_simhash_expr",
      (s, d) => {
        graft.functions.GraftFunctions.register(s)
        orderedByAll(
          Tables.documents(s, d)
            .select(col("doc_id"), TextFunctions.tokens(col("text")).as("toks"))
            .select(col("doc_id"),
              expr(s"simhash_sig(toks, $SimhashBits)").as("simhash")))
      },
      Some {
        val bitTerms = (0 until SimhashBits).map { j =>
          val hc = j / 4; val sub = 3 - (j % 4)
          s"""CASE WHEN 2 * len(list_filter(hashes,
             |  h -> ((strpos('0123456789abcdef', substring(h, ${hc + 1}, 1)) - 1) // ${1L << sub}) % 2 = 1))
             |  >= len(hashes) THEN ${1L << (SimhashBits - 1 - j)} ELSE 0 END""".stripMargin
        }
        s"""SELECT doc_id, CAST(${bitTerms.mkString(" + ")} AS BIGINT) AS simhash
           |FROM (SELECT doc_id, list_transform($sqlToks, t -> md5(t)) AS hashes FROM documents)
           |ORDER BY ALL""".stripMargin
      }
    ),
    // D5 embedding near-dup: cos > 0.95 with exact integer/decimal
    // arithmetic (no float rounding → engine-portable), pairs blocked
    // on the label column (the IVF-style scale path: at 100 TB the
    // block key is an LSH bucket or coarse-quantizer cell).
    QueryDef(
      "d5_embed_neardup",
      (s, d) => orderedByAll(
        Dedup.embeddingNearDupPairs(Tables.embeddings(s, d),
          "vec_id", "embedding", "label", TauNumSq, TauDenSq)),
      Some(
        s"""WITH iv AS (
           |  SELECT vec_id AS id, label AS blk,
           |         list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 10000000) AS BIGINT)) AS iv
           |  FROM embeddings),
           |nr AS (
           |  SELECT id, blk, iv,
           |         CAST(list_sum(list_transform(iv, v -> v * v)) AS BIGINT) AS nrm2
           |  FROM iv),
           |pairs AS (
           |  SELECT a.id AS id_a, b.id AS id_b, a.nrm2 AS na, b.nrm2 AS nb,
           |         CAST(list_sum(list_transform(range(1, len(a.iv) + 1, 1),
           |                                      i -> a.iv[i] * b.iv[i])) AS BIGINT) AS dot
           |  FROM nr a JOIN nr b ON a.blk = b.blk AND a.id < b.id)
           |SELECT id_a, id_b FROM pairs
           |WHERE dot > 0
           |  AND CAST(dot AS HUGEINT) * CAST(dot AS HUGEINT) * $TauDenSq
           |      > $TauNumSq * CAST(na AS HUGEINT) * CAST(nb AS HUGEINT)
           |ORDER BY ALL""".stripMargin)
    ),
    // D5b embedding near-dup blocked by banded signed-random-
    // projection LSH — the data-independent blocking path (no
    // training pass, vs d5's label block / the auto path's learned
    // cells). Hyperplane weights are md5-derived integers, so the
    // oracle computes the identical buckets, candidates, and exact
    // threshold bits.
    QueryDef(
      "d8_lsh_neardup",
      (s, d) => orderedByAll(
        Dedup.embeddingNearDupPairsLsh(Tables.embeddings(s, d),
          "vec_id", "embedding", EmbDim, TauNumSq, TauDenSq, LshPlanes, LshBands)),
      Some {
        val r = LshPlanes / LshBands
        s"""WITH iv AS (
           |  SELECT vec_id AS id,
           |         list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 10000000) AS BIGINT)) AS iv
           |  FROM embeddings),
           |pos AS (SELECT id, generate_subscripts(iv, 1) AS i, unnest(iv) AS v FROM iv),
           |pw AS (SELECT p.range AS p, i.range AS i,
           |              md5('pl_' || p.range || '_' || i.range) AS h
           |       FROM range(0, $LshPlanes) p, range(1, ${EmbDim + 1}) i),
           |planes AS (SELECT p, i, ${sqlHex2Long(1)} - 2147483648 AS w FROM pw),
           |dots AS (SELECT pos.id, planes.p, CAST(sum(pos.v * planes.w) AS BIGINT) AS dot
           |         FROM pos JOIN planes USING (i) GROUP BY 1, 2),
           |bits AS (SELECT id, p // $r AS band,
           |                CAST(sum(CASE WHEN dot >= 0 THEN (1::BIGINT << (p % $r)) ELSE 0 END) AS BIGINT) AS bits
           |         FROM dots GROUP BY 1, 2),
           |keys AS (SELECT id, CAST(band * ${1L << r} + bits AS BIGINT) AS lsh FROM bits),
           |nr AS (SELECT iv.id, keys.lsh, iv.iv,
           |              CAST(list_sum(list_transform(iv.iv, v -> v * v)) AS BIGINT) AS nrm2
           |       FROM iv JOIN keys USING (id)),
           |pairs AS (
           |  SELECT DISTINCT a.id AS id_a, b.id AS id_b,
           |         CAST(list_sum(list_transform(range(1, len(a.iv) + 1, 1),
           |                                      x -> a.iv[x] * b.iv[x])) AS BIGINT) AS dot,
           |         a.nrm2 AS na, b.nrm2 AS nb
           |  FROM nr a JOIN nr b ON a.lsh = b.lsh AND a.id < b.id)
           |SELECT id_a, id_b FROM pairs
           |WHERE dot > 0
           |  AND CAST(dot AS HUGEINT) * CAST(dot AS HUGEINT) * $TauDenSq
           |      > $TauNumSq * CAST(na AS HUGEINT) * CAST(nb AS HUGEINT)
           |ORDER BY ALL""".stripMargin
      }
    ),
    // D7 dup GROUPS: connected components over the d2 near-dup pairs
    // — pairs alone do not dedup a corpus; transitive closure does
    // (a~b, b~c ⇒ {a,b,c} is one group, keep min id). Spark side is
    // star contraction (Dedup.components); the oracle computes the
    // same fixpoint as min-reachable-id via a recursive CTE.
    QueryDef(
      "d7_dup_groups",
      (s, d) => orderedByAll(
        Dedup.components(
          Dedup.jaccardPairs(Tables.documents(s, d), "doc_id", "text",
            ShingleK, MinJaccard, MaxShingleDf).select("id_a", "id_b"))),
      Some(
        s"""WITH RECURSIVE $sqlShingleCte,
           |$sqlNearDupComponentCtes
           |SELECT id, rep FROM comp ORDER BY ALL""".stripMargin)
    ),
    // D10 train/test DECONTAMINATION: which training docs share ≥
    // MinCommon rare shingles with an eval doc (benchmark leakage).
    // The split is the deterministic hash split (Sampling.hashBucket,
    // 10% test); the pair join blocks on df-capped shingles — the
    // same discipline that keeps d2 off the quadratic cliff.
    QueryDef(
      "d10_decontaminate",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val isTest = graft.sample.Sampling.hashBucket(col("doc_id"), SplitSeed) <
          lit(graft.sample.Sampling.rateThreshold(TestRate))
        orderedByAll(Dedup.contaminationPairs(
          docs.filter(!isTest), docs.filter(isTest),
          "doc_id", "text", ShingleK, MinCommon, MaxShingleDf))
      },
      Some(
        s"""WITH $sqlShingleCte,
           |post AS (SELECT id, unnest(shingles) AS shingle FROM sh),
           |split AS (SELECT doc_id AS id,
           |                 substring(md5(CAST(doc_id AS VARCHAR) || '$SplitSeed'), 1, 4)
           |                   < '${graft.sample.Sampling.rateThreshold(TestRate)}' AS is_test
           |          FROM documents),
           |dfq AS (SELECT shingle FROM post GROUP BY shingle HAVING count(*) <= $MaxShingleDf)
           |SELECT t.id AS train_id, e.id AS test_id, count(*) AS common
           |FROM post t JOIN split st ON t.id = st.id AND NOT st.is_test
           |     JOIN dfq ON t.shingle = dfq.shingle
           |     JOIN post e ON t.shingle = e.shingle
           |     JOIN split se ON e.id = se.id AND se.is_test
           |GROUP BY 1, 2
           |HAVING count(*) >= $MinCommon
           |ORDER BY ALL""".stripMargin)
    ),
    // D11 end-to-end corpus dedup: exact pass → near-dup pairs over
    // survivors → connected components → keep min-id reps. The full
    // composed pipeline stage; output is the surviving corpus (ids
    // here — the operator returns the full rows).
    QueryDef(
      "d11_dedup_corpus",
      (s, d) => orderedByAll(
        Dedup.dedupCorpus(Tables.documents(s, d), "doc_id", "text",
          ShingleK, MinJaccard, MaxShingleDf).select("doc_id")),
      Some(
        s"""WITH RECURSIVE
           |ex AS (SELECT min(doc_id) AS id FROM documents
           |       GROUP BY md5(regexp_replace(lower(text), '\\s+', ' ', 'g'))),
           |docs1 AS (SELECT d.doc_id, d.text FROM documents d JOIN ex ON d.doc_id = ex.id),
           |${sqlShingleCteFrom("docs1")},
           |$sqlNearDupComponentCtes
           |SELECT doc_id FROM docs1
           |WHERE doc_id NOT IN (SELECT id FROM comp WHERE id <> rep)
           |ORDER BY ALL""".stripMargin)
    ),
    // D12 composed curation — the FULL training-data stage as one
    // operator: quality 'ok' + lang 'en' (codegen'd per-row filters
    // run first, shrinking the corpus before any shuffle), then exact
    // + near-dup dedup with min-id survivors, then decontamination
    // against the held-out eval split. One oracle covers the whole
    // composition end to end.
    QueryDef(
      "d12_clean_corpus",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val isTest = graft.sample.Sampling.hashBucket(col("doc_id"), SplitSeed) <
          lit(graft.sample.Sampling.rateThreshold(TestRate))
        orderedByAll(graft.pipeline.Curation.cleanCorpus(
          docs.filter(!isTest), "doc_id", "text", Seq("en"),
          ShingleK, MinJaccard, MaxShingleDf,
          eval = Some(docs.filter(isTest)), minCommon = MinCommon)
          .select("doc_id"))
      },
      Some(
        s"""WITH RECURSIVE
           |split AS (SELECT doc_id, text,
           |                 substring(md5(CAST(doc_id AS VARCHAR) || '$SplitSeed'), 1, 4)
           |                   < '${graft.sample.Sampling.rateThreshold(TestRate)}' AS is_test
           |          FROM documents),
           |clean AS (SELECT doc_id, text FROM split
           |          WHERE NOT is_test AND ${TextOps.sqlQualityCase} = 'ok'
           |            AND ${TextOps.sqlLangCase} = 'en'),
           |ex AS (SELECT min(doc_id) AS id FROM clean
           |       GROUP BY md5(regexp_replace(lower(text), '\\s+', ' ', 'g'))),
           |docs1 AS (SELECT c.doc_id, c.text FROM clean c JOIN ex ON c.doc_id = ex.id),
           |${sqlShingleCteFrom("docs1")},
           |$sqlNearDupComponentCtes,
           |surv AS (SELECT doc_id FROM docs1
           |         WHERE doc_id NOT IN (SELECT id FROM comp WHERE id <> rep)),
           |tpost AS (SELECT post.id, post.shingle FROM post JOIN surv ON post.id = surv.doc_id),
           |evdocs AS (SELECT doc_id, text FROM split WHERE is_test),
           |${sqlShingleCteFrom("evdocs", "she")},
           |epost AS (SELECT id, unnest(shingles) AS shingle FROM she),
           |cdf AS (SELECT shingle FROM (SELECT shingle FROM tpost
           |                             UNION ALL SELECT shingle FROM epost) u
           |        GROUP BY shingle HAVING count(*) <= $MaxShingleDf),
           |contp AS (SELECT t.id AS tid, e.id AS eid, count(*) AS common
           |          FROM tpost t JOIN cdf ON t.shingle = cdf.shingle
           |               JOIN epost e ON t.shingle = e.shingle
           |          GROUP BY 1, 2 HAVING count(*) >= $MinCommon)
           |SELECT doc_id FROM surv WHERE doc_id NOT IN (SELECT tid FROM contp)
           |ORDER BY ALL""".stripMargin)
    ),
    // D9 edit-distance-1 fuzzy pairs (SymSpell deletion-neighborhood
    // blocking): customer names differing by one character. The
    // oracle is the definitional all-pairs levenshtein — affordable
    // for DuckDB at sf0.01, exactly what the blocked plan avoids.
    QueryDef(
      "d9_fuzzy_pairs",
      (s, d) => orderedByAll(
        Dedup.editDistance1Pairs(Tables.customer(s, d), "c_name")
          .select(col("s_a").as("name_a"), col("s_b").as("name_b"))),
      Some("""SELECT DISTINCT a.c_name AS name_a, b.c_name AS name_b
             |FROM customer a JOIN customer b
             |  ON a.c_name < b.c_name AND levenshtein(a.c_name, b.c_name) <= 1
             |ORDER BY ALL""".stripMargin)
    )
  )
}
