package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis primitives for large-scale corpus pipelines: approximate
  * token counting, marker-based language ID, quality features, and content
  * fingerprinting (extension surface beyond reference parity — SURVEY §7
  * step 8).
  *
  * Cross-engine determinism rule: everything is built from `length` /
  * `replace`-style string arithmetic and single floating-point divisions,
  * never regex classes or locale-sensitive ops, so the DuckDB oracle can
  * reproduce results bit-for-bit.
  */
object TextAnalysis {

  /** Number of non-overlapping occurrences of literal `marker` in `c`. */
  def occurrences(c: Column, marker: String): Column = {
    val esc = java.util.regex.Pattern.quote(marker)
    ((length(c) - length(regexp_replace(c, esc, ""))) / marker.length).cast("long")
  }

  /** Matching DuckDB SQL for [[occurrences]] (plain `replace`). */
  def occurrencesSql(expr: String, marker: String): String = {
    val lit = marker.replace("'", "''")
    s"CAST((length($expr) - length(replace($expr, '$lit', ''))) / ${marker.length} AS BIGINT)"
  }

  /** Approximate whitespace token count (space-separated corpora). */
  def tokenCount(c: Column): Column = occurrences(c, " ") + lit(1L)

  def tokenCountSql(expr: String): String = s"(${occurrencesSql(expr, " ")} + 1)"

  /** Language markers: (lang, space-padded marker word). Scored against a
    * space-padded copy of the text; argmax with fixed precedence order. */
  val langMarkers: Seq[(String, String)] = Seq(
    "en" -> " the ", "fr" -> " le ", "de" -> " der ", "es" -> " el ", "zh" -> " zh ")

  /** n-gram-heuristic language ID over a space-padded text column. */
  def langId(padded: Column): Column = {
    val scores = langMarkers.map { case (l, m) => l -> occurrences(padded, m) }
    // argmax with ties resolved by marker precedence order
    scores.zipWithIndex.foldRight(lit(scores.last._1): Column) {
      case (((lang, score), i), elseCol) =>
        val laterScores = scores.drop(i + 1).map(_._2)
        if (laterScores.isEmpty) elseCol
        else when(laterScores.map(score >= _).reduce(_ && _), lang).otherwise(elseCol)
    }
  }

  def langIdSql(paddedExpr: String): String = {
    val sc = langMarkers.map { case (l, m) => l -> occurrencesSql(paddedExpr, m) }
    val cases = sc.zipWithIndex.dropRight(1).map { case ((lang, s), i) =>
      val conds = sc.drop(i + 1).map { case (_, s2) => s"$s >= $s2" }.mkString(" AND ")
      s"WHEN $conds THEN '$lang'"
    }
    s"CASE ${cases.mkString(" ")} ELSE '${sc.last._1}' END"
  }

  /** BPE-ish subword token count: runs of letters, runs of digits, and
    * individual punctuation — the pre-tokenization split BPE vocabularies
    * assume. Simple character-class alternation so Java regex (Spark) and
    * RE2 (DuckDB) agree. */
  val bpePattern = "[a-z]+|[0-9]+|[^a-z0-9 ]"

  def bpeTokenCount(c: Column): Column =
    size(expr(s"regexp_extract_all(${c.toString}, '$bpePattern', 0)")).cast("long")

  def bpeTokenCountSql(expr: String): String =
    s"CAST(len(regexp_extract_all($expr, '$bpePattern')) AS BIGINT)"

  /** 16-hex-char content fingerprint over normalized text (rolling-hash
    * analogue built on md5 so both engines agree). */
  def fingerprint(c: Column): Column = substring(md5(c.cast("binary")), 1, 16)

  def fingerprintSql(expr: String): String = s"substr(md5($expr), 1, 16)"

  /** Within-document repetition: the fraction of word-trigram occurrences
    * that are duplicates of an earlier trigram in the same document —
    * the Gopher-style repetitious-text quality gate (high fraction =
    * boilerplate/spam). Pure array arithmetic per row, no shuffle:
    * `1 - distinct_trigrams / total_trigrams` (0 when fewer than 2
    * trigrams, matching "nothing to repeat"). */
  def dupTrigramFraction(textCol: String): Column = {
    // native codegen'd gram array (graft.functions.WordNgrams) referenced
    // three times — whole-stage codegen's common-subexpression elimination
    // computes it once per row (the earlier interpreted-HOF formulation
    // needed a transform-as-LET trick AND still evaluated ~10× slower)
    val g = graft.functions.GraftFunctions.wordNgrams(col(textCol), 3)
    when(size(g) <= 1, lit(0.0))
      .otherwise(lit(1.0) - size(array_distinct(g)).cast("double") /
        size(g).cast("double"))
  }

  /** Matching DuckDB fragment for [[dupTrigramFraction]]. */
  def dupTrigramFractionSql(textExpr: String): String = {
    val toks = s"string_split($textExpr, ' ')"
    val grams = s"list_transform(range(0, greatest(len($toks) - 3, 0) + 1), " +
      s"i -> concat_ws(' ', $toks[i + 1], $toks[i + 2], $toks[i + 3]))"
    s"CASE WHEN len($grams) <= 1 THEN 0.0 ELSE " +
      s"1.0 - CAST(len(list_distinct($grams)) AS DOUBLE) / len($grams) END"
  }

  /** PII redaction patterns, applied in order (phone before IP: a dotted
    * phone like `555.123.4567` must not half-match the IPv4 pattern).
    * RE2-compatible subset only — character classes, `\b`, `{m,n}`; no
    * lookarounds or backrefs — so Spark's java.util.regex and the DuckDB
    * oracle's RE2 produce identical redactions. */
  val piiPatterns: Seq[(String, String)] = Seq(
    ("[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    ("\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b", "<PHONE>"),
    ("\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b", "<IP>"))

  /** Redact emails / phone numbers / IPv4 addresses to placeholder tokens —
    * the standard pre-training scrub pass; one codegen'd regexp_replace
    * chain, no UDF. */
  def redactPii(c: Column): Column =
    piiPatterns.foldLeft(c) { case (acc, (pat, rep)) => regexp_replace(acc, pat, rep) }

  def redactPiiSql(expr: String): String =
    piiPatterns.foldLeft(expr) { case (acc, (pat, rep)) =>
      s"regexp_replace($acc, '$pat', '$rep', 'g')"
    }

  /** Train/eval decontamination: per train document, the number of distinct
    * word `k`-grams it shares with ANY eval document — the n-gram-overlap
    * test-set leakage check every pretraining pipeline runs before
    * training (real pipelines use k of 8-13; the fixture corpus is short,
    * so its query uses k=4).
    *
    * Scale shape: the eval side is distinct-reduced and BROADCAST — an eval
    * benchmark is a few thousand documents against a 100 TB train corpus,
    * so the train side streams map-side through the hash semi-join and the
    * only shuffle is the final per-doc count. Set `broadcastEval = false`
    * for the rare giant-eval case (falls back to a hash join keyed on the
    * n-gram). Per-doc n-grams are built as one array per row
    * ([[graft.operators.Dedup.shingles]] — array_distinct'd HOF, no
    * explode) and only unrolled into the join itself.
    */
  def ngramOverlap(train: DataFrame, eval: DataFrame, idCol: String,
                   textCol: String, k: Int, broadcastEval: Boolean = true): DataFrame = {
    // fan a narrow train-side scan out before the shingle explode (no-op
    // on a real multi-split corpus)
    val trainG = Par.fanOutIfNarrow(train.select(col(idCol), col(textCol)))
      .select(col(idCol),
        explode(graft.operators.Dedup.shingles(textCol, k)).as("ngram"))
    val evalG = eval.select(explode(graft.operators.Dedup.shingles(textCol, k)).as("ngram"))
      .distinct()
    val evalSide = if (broadcastEval) broadcast(evalG) else evalG
    // per-doc n-grams are already distinct (shingles array_distincts), so
    // the inner-join row count IS the distinct-overlap count
    trainG.join(evalSide, Seq("ngram"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_overlap"))
  }

  /** Most-duplicated-passage census: the corpus-wide report of the top-N
    * most repeated word k-grams (total occurrences, distinct documents, and
    * the first document carrying each) that the dedup literature publishes
    * with every corpus release — the memorization-risk signal that
    * motivates sequence-level dedup in the first place. Reference scope:
    * the migration tool profiles tables before moving them; this is the
    * corpus-profiling analogue for text.
    *
    * Scale shape: occurrence-preserving k-grams (no array_distinct — the
    * census counts repeats WITHIN a doc too) explode to one row per corpus
    * token, but both aggregates are partial-agg friendly: Spark's
    * single-distinct rewrite first combines on (ngram, doc) — collapsing a
    * doc's internal repeats map-side — then on ngram, so a viral
    * boilerplate passage (the skew case this report exists to find) arrives
    * at the shuffle as one row per (partition, doc), not one per
    * occurrence. The top-N lands as TakeOrderedAndProject: per-partition
    * heaps, no global sort. Docs shorter than k tokens carry no full-length
    * k-gram and are filtered before the explode.
    */
  def repeatedNgramCensus(docs: DataFrame, idCol: String, textCol: String,
                          k: Int = 8, topN: Int = 50): DataFrame = {
    val toks = s"split($textCol, ' ')"
    // fan a narrow scan out before the per-row n-gram explode (no-op on a
    // real multi-split corpus)
    Par.fanOutIfNarrow(docs.select(col(idCol), col(textCol)))
      .filter(expr(s"size($toks) >= $k"))
      .select(col(idCol),
        explode(graft.functions.GraftFunctions.wordNgrams(col(textCol), k)).as("ngram"))
      .groupBy(col("ngram"))
      .agg(count(lit(1)).as("n_occ"),
        countDistinct(col(idCol)).as("n_docs"),
        min(col(idCol)).as("first_doc"))
      .orderBy(col("n_occ").desc, col("ngram"))
      .limit(topN)
  }

  /** Cross-source n-gram overlap matrix: for every unordered pair of
    * corpus sources, the count of distinct word k-grams they share and the
    * resulting Jaccard — the source-level contamination census a corpus
    * card publishes (which scrapes overlap which dumps, which sources are
    * near-copies of each other). Complements q82's doc-pair census: this
    * is content-set overlap, blind to document boundaries.
    *
    * Scale shape: the distinct (source, ngram) projection is a partial
    * aggregate (a source's internal repeats collapse map-side before the
    * shuffle). The self-join is keyed on ngram alone, but its per-key
    * fanout is bounded by S·(S-1)/2 where S = #sources (single digits) —
    * no quadratic blowup however viral a passage is. Source totals are a
    * broadcast of S rows.
    */
  def crossSourceNgramOverlap(docs: DataFrame, sourceCol: String, textCol: String,
                              k: Int = 5): DataFrame = {
    val toks = s"split($textCol, ' ')"
    // NOT fanned out (round-17 measurement: flat wall, +5.8 CPU s): the
    // distinct collapses map-side and the self-join reuses its exchange.
    // 60-bit md5-prefix hashes instead of ngram STRINGS (round 18, guide
    // §2.3): every downstream op — the distinct, the self-join key, the
    // counts — needs only gram identity, which the injective-by-2^-60
    // hash preserves (the containment-family discipline; the oracle
    // replays string grams and hash-checks the counts), so the exchange
    // and join carry 8-byte longs, not ~30-byte 5-gram strings, and the
    // per-gram hex/string allocation disappears from the scan stage.
    val grams = docs
      .filter(expr(s"size($toks) >= $k"))
      .select(col(sourceCol).as("source"),
        explode(graft.functions.GraftFunctions.shingleHash60(col(textCol), k)).as("ngram"))
      .distinct()
    val totals = grams.groupBy(col("source")).agg(count(lit(1)).as("n"))
    grams.as("a")
      .join(grams.as("b"),
        col("a.ngram") === col("b.ngram") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
      .agg(count(lit(1)).as("n_shared"))
      .join(broadcast(totals.select(col("source").as("src_a"), col("n").as("n_a"))), "src_a")
      .join(broadcast(totals.select(col("source").as("src_b"), col("n").as("n_b"))), "src_b")
      .select(col("src_a"), col("src_b"), col("n_a"), col("n_b"), col("n_shared"),
        (col("n_shared").cast("double") /
          (col("n_a") + col("n_b") - col("n_shared")).cast("double")).as("jaccard"))
      .orderBy(col("src_a"), col("src_b"))
  }

  /** Per-source unigram KL divergence vs the whole-corpus distribution:
    * `KL(source ‖ corpus) = Σ_w p(w|s) · ln(p(w|s) / p(w))` — the
    * domain-shift report of a mixed corpus (which sources' word
    * distributions sit far from the blend they'll be trained as). Reported
    * with each source's token count and vocabulary size.
    *
    * Determinism: probabilities are exact integer-count ratios (single
    * correctly-rounded double divisions); `ln` is the one libm call, so —
    * same discipline as the bigram-LM cross-entropy — each term rounds to
    * DECIMAL(30,9) before the exact decimal sum, making the result immune
    * to both accumulation order and sub-ulp libm differences.
    *
    * Scale shape: unigram counts are one (source, word) shuffle with
    * map-side combine; everything after runs on vocabulary-sized frames
    * (source totals and the 1-row corpus total attach as broadcasts, the
    * per-word corpus count as a word-keyed join of two vocab-sized
    * frames). No driver-side math.
    */
  def unigramKlBySource(docs: DataFrame, sourceCol: String, textCol: String): DataFrame =
    // fan-out measured a LOSS here (0.43 -> 0.83 s wall, CPU 0.3 -> 8.5):
    // the token stream feeds a three-consumer aggregate whose exchange
    // reuse breaks across the inserted repartition, so each consumer
    // re-pays a fanned pass - the fused 1-task explode + map-side combine
    // is cheaper at any narrow-source size
    unigramKlFromTokens(docs
      .select(col(sourceCol).as("source"), explode(split(col(textCol), " ")).as("w")))

  /** [[unigramKlBySource]] over a pre-exploded `(source, w)` token stream —
    * lets [[CorpusReport]] share ONE cached unigram explode across the
    * censuses instead of re-exploding the corpus per report section. */
  def unigramKlFromTokens(tokens: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val sw = tokens
      .groupBy(col("source"), col("w"))
      .agg(count(lit(1)).as("c_sw"))
    val perSource = sw.groupBy(col("source")).agg(sum(col("c_sw")).as("t_s"))
    val perWord = sw.groupBy(col("w")).agg(sum(col("c_sw")).as("c_w"))
    val total = perSource.agg(sum(col("t_s")).as("corpus_total"))
    val pS = col("c_sw").cast("double") / col("t_s")
    val pW = col("c_w").cast("double") / col("corpus_total")
    sw.join(broadcast(perSource), Seq("source"))
      .join(perWord, Seq("w"))
      .crossJoin(broadcast(total))
      .select(col("source"), col("t_s"),
        (pS * log(pS / pW)).cast(DecimalType(30, 9)).as("term"))
      .groupBy(col("source"), col("t_s"))
      .agg(count(lit(1)).as("vocab"),
        sum(col("term")).cast("double").as("kl_vs_corpus"))
      .select(col("source"), col("t_s").as("n_tokens"), col("vocab"), col("kl_vs_corpus"))
      .orderBy(col("source"))
  }

  /** Bloom size for `n` build keys: next power of two ≥ 12·n bits (fpp
    * ≈ 1% at 3 hashes), floored at 2^20 (128 KB) and capped at 2^28
    * (32 MB broadcast). Above the cap the fpp degrades gracefully — the
    * exact join still removes every false positive. */
  def bloomBitsFor(n: Long): Int = {
    val want = java.lang.Long.highestOneBit(math.max(1L, 12L * n) * 2 - 1)
    math.min(1L << 28, math.max(1L << 20, want)).toInt
  }

  /** Distributed Bloom build over a key column: per-partition bitmaps,
    * OR-merged tree-style — the log-depth reduction that keeps the driver
    * from receiving more than one `mBits/8`-byte array per merge arm. */
  def buildBloom(keys: DataFrame, keyCol: String, mBits: Int = 1 << 20,
                 numHashes: Int = 3): Array[Long] = {
    import org.apache.spark.sql.Encoders
    keys.select(col(keyCol).cast("string")).na.drop().as(Encoders.STRING).rdd
      .treeAggregate(new Array[Long](mBits / 64))(
        (acc, s) => {
          graft.functions.BloomUtils.add(acc,
            org.apache.spark.unsafe.types.UTF8String.fromString(s), numHashes, mBits)
          acc
        },
        (a, b) => graft.functions.BloomUtils.merge(a, b))
  }

  /** [[ngramOverlap]] for the giant-eval case: when the eval n-gram set is
    * too large to broadcast as a hash relation, its BITS still fit
    * (2^20 bits = 128 KB). The train side is pruned map-side by the
    * broadcast bloom — at production FP rates that's ~99% of probe rows
    * never reaching the shuffle — and the surviving sliver goes through
    * the exact (shuffled, non-broadcast) join, which removes the false
    * positives. Results are therefore IDENTICAL to [[ngramOverlap]]; only
    * the shuffled volume changes.
    *
    * `mBits = 0` (the default) sizes the filter from the measured eval
    * cardinality: ~12 bits/key at 3 hashes (fpp ≈ 1%), floor 2^20,
    * ceiling 2^28 (32 MB — a comfortable broadcast). A FIXED size is the
    * scale trap this operator exists to avoid: the round-6 scale curve
    * measured the 2^20 default saturating at 100× eval growth — prune
    * pass-through rate → ~1, every train shingle reached the shuffle, and
    * the x10→x100 wall-clock exponent read 1.09 with a 3× marginal-cost
    * step. The sizing count is one extra job over the (smaller, by
    * construction) eval side that the bloom build scans anyway. */
  def bloomNgramOverlap(train: DataFrame, eval: DataFrame, idCol: String,
                        textCol: String, k: Int, mBits: Int = 0,
                        numHashes: Int = 3,
                        scope: CacheScope = CacheScope.unmanaged): DataFrame = {
    import org.apache.spark.sql.graft.ColumnBridge
    // consumed three times (sizing count + bloom build + exact join), so
    // cached through the caller's scope; under the unmanaged default the
    // entry lives until the session clears caches — callers holding a
    // genuinely giant eval set pass a scope and release() after the
    // terminal action
    val evalG = scope.cached(eval
      .select(explode(graft.operators.Dedup.shingles(textCol, k)).as("ngram"))
      .distinct())
    val sizedBits = if (mBits > 0) mBits else bloomBitsFor(evalG.count())
    val bits = buildBloom(evalG, "ngram", sizedBits, numHashes)
    val probe = ColumnBridge.column(graft.functions.BloomMightContain(
      ColumnBridge.expression(col("ngram")), bits, numHashes, sizedBits))
    Par.fanOutIfNarrow(train.select(col(idCol), col(textCol)))
      .select(col(idCol), explode(graft.operators.Dedup.shingles(textCol, k)).as("ngram"))
      .filter(probe)
      .join(evalG, Seq("ngram"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_overlap"))
  }

  /** Word-bigram LM cross-entropy scoring — the CCNet/Gopher-style quality
    * signal: train an add-one-smoothed bigram model on `train`, score each
    * `eval` document by its mean negative log2 bigram probability
    * (perplexity = 2^xent; low = fluent under the reference corpus, high =
    * noise/boilerplate/other-language).
    *
    * The LM IS a pair of count DataFrames, never a driver-side model:
    * P(w2|w1) = (c2(w1,w2)+1) / (c1(w1)+V) with c2 the train bigram
    * counts, c1 their per-context sums, V the train vocabulary size (a
    * 1-row broadcast). Scoring is two shuffle equi-joins — eval bigrams
    * against c2 on (w1,w2) and c1 on w1 — each 1:1 per eval row (a count
    * table has one row per key, so hot stopword contexts mean hash
    * imbalance, which AQE splits, never join fanout). Both LM tables are
    * vocab-bounded — sublinear in corpus size — so at production scale AQE
    * typically converts the joins to broadcasts; the shuffle formulation
    * is kept so web-scale vocabularies (typo space) still work.
    *
    * Cross-engine determinism: log2 is transcendental — the JVM and C libm
    * may differ in the last ulp — so each per-bigram cost is rounded to
    * DECIMAL(30,6) BEFORE the exact decimal sum (the [[graft.queries.Q]]
    * discipline), making the per-document mean independent of both
    * accumulation order and libm.
    *
    * Reference scope: extension surface beyond reference parity (the
    * quality-scoring family of SURVEY §7 step 8). */
  def ngramLmCrossEntropy(train: DataFrame, eval: DataFrame, idCol: String,
                          textCol: String,
                          scope: CacheScope = CacheScope.unmanaged): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    // bigrams as single "w1 w2" gram strings (native codegen'd WordNgrams
    // — the interpreted transform/struct HOF chain this replaced cost ~10×
    // per corpus scan); w1 decodes as the prefix before the first space
    // (tokens are space-free by construction), so the unigram backoff key
    // never re-splits the corpus
    def bigrams(df: DataFrame, keep: Column*): DataFrame = {
      val t = split(col(textCol), " ")
      // fan a narrow scan out before the per-row bigram explode (no-op on
      // a real multi-split corpus); both the LM build and the scoring pass
      // come through here
      Par.fanOutIfNarrow(df).filter(size(t) >= 2)
        .select(keep :+ explode(
          graft.functions.GraftFunctions.wordNgrams(col(textCol), 2)).as("bg"): _*)
    }
    // cached: c1 derives from c2 and the scoring join reads c2 again — an
    // uncached plan would run the train bigram aggregate twice
    val c2 = scope.cached(
      bigrams(train).groupBy("bg").agg(count(lit(1)).as("c2")))
    val c1 = c2.select(substring_index(col("bg"), " ", 1).as("w1"), col("c2"))
      .groupBy("w1").agg(sum("c2").as("c1"))
    val v = train.select(explode(split(col(textCol), " ")).as("w"))
      .agg(countDistinct(col("w")).as("v"))
    bigrams(eval, col(idCol))
      .withColumn("w1", substring_index(col("bg"), " ", 1))
      .join(c2, Seq("bg"), "left")
      .join(c1, Seq("w1"), "left")
      .crossJoin(broadcast(v))
      .withColumn("nll",
        (-log2((coalesce(col("c2"), lit(0L)) + lit(1.0)) /
          (coalesce(col("c1"), lit(0L)) + col("v"))))
          .cast(DecimalType(30, 6)))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
        (sum(col("nll")).cast("double") / count(lit(1))).as("xent"))
    // no terminal sort: analyze --perplexity re-aggregates immediately —
    // the oracle query adds its own ORDER BY
  }

  /** Vocabulary coverage / OOV-rate census per group: build the global
    * top-`topV` word vocabulary (count-desc, word-asc tie-break — the exact
    * ordering both engines replay), then measure what fraction of each
    * group's token stream falls outside it. The tokenizer-design question
    * this answers — "how much of each language does a V-word vocab strand?"
    * — is the first table in any tokenizer RFC.
    *
    * Scale shape: the vocab is a `topV`-row sorted aggregate over the
    * word-count table (bounded by distinct words, sublinear in corpus) and
    * rides broadcast into the coverage join; the token stream shuffles once
    * on word for the count and once on group for the census.
    *
    * Reference scope: extension surface beyond reference parity (the
    * reference computes exact column stats only, validator.py:208-238). */
  def vocabCoverage(docs: DataFrame, groupCol: String, textCol: String,
                    topV: Int): DataFrame =
    vocabCoverageFromTokens(docs.select(col(groupCol).as("grp"),
      explode(split(col(textCol), " ")).as("w")), groupCol, topV)

  /** [[vocabCoverage]] over a pre-exploded `(grp, w)` token stream (shared
    * cached explode in [[CorpusReport]]); `groupCol` is the output name the
    * `grp` column is restored to. */
  def vocabCoverageFromTokens(toks: DataFrame, groupCol: String,
                              topV: Int): DataFrame = {
    val vocab = toks.groupBy(col("w")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("w")).limit(topV)
      .select(col("w"), lit(1L).as("in_vocab"))
    toks.join(broadcast(vocab), Seq("w"), "left")
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("total_tokens"),
        sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("oov_tokens"))
      .withColumn("oov_rate",
        col("oov_tokens").cast("double") / col("total_tokens"))
      .withColumnRenamed("grp", groupCol)
      .orderBy(col(groupCol))
  }

  /** Padding-waste census under power-of-two length bucketing — the cost
    * model of fixed-shape batching: each document pads up to the next
    * power-of-two token bucket (floored at `minBucket`), and the report
    * says how many pad tokens each bucket burns and the utilization a
    * batch served from it achieves. Pure integer arithmetic (bucket =
    * `2^bitlength(n-1)` via the string bit-length trick both engines
    * share — no float log2), one aggregate, ~log2(max_len) output rows. */
  def paddingWaste(docs: DataFrame, textCol: String,
                   minBucket: Int = 32): DataFrame = {
    docs.select(greatest(tokenCount(col(textCol)), lit(minBucket.toLong))
        .as("n_tok"))
      .withColumn("bucket",
        expr("CAST(shiftleft(1L, length(bin(n_tok - 1))) AS BIGINT)"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("sum_tokens"),
        sum(col("bucket") - col("n_tok")).as("pad_tokens"))
      .withColumn("utilization",
        col("sum_tokens").cast("double") / (col("bucket") * col("n_docs")))
      .orderBy(col("bucket"))
  }

  /** Ordered Gopher-style quality gates (min length, token shape, stopword
    * evidence, repetition) with a per-stage rejection census. ONE corpus
    * scan computes all rule flags, one 1-row aggregate counts cumulative
    * survivors, `stack()` unpivots the funnel — per-rule counts never
    * re-scan the corpus. (Shared by the q106 oracle query and the
    * `corpus-report` verb.) */
  def qualityFunnel(docs: DataFrame, textCol: String = "text"): DataFrame = {
    // fan a narrow scan out before the per-row gate metrics (no-op on a
    // real multi-split corpus)
    val flags = Par.fanOutIfNarrow(docs.select(col(textCol)))
      .withColumn("padded", concat(lit(" "), col(textCol), lit(" ")))
      .withColumn("n_tokens", tokenCount(col(textCol)))
      .withColumn("avg_len", length(col(textCol)).cast("double") / col("n_tokens"))
      .withColumn("stop_hits",
        occurrences(col("padded"), " the ") + occurrences(col("padded"), " a "))
      .withColumn("f1", col("n_tokens") >= 25)
      .withColumn("f2", col("f1") && col("avg_len").between(4.0, 5.8))
      .withColumn("f3", col("f2") && (col("stop_hits") >= 2))
      .withColumn("f4", col("f3") && (dupTrigramFraction(textCol) < 0.05))
    flags.agg(
        count(lit(1)).as("n0"),
        sum(when(col("f1"), 1L).otherwise(0L)).as("s1"),
        sum(when(col("f2"), 1L).otherwise(0L)).as("s2"),
        sum(when(col("f3"), 1L).otherwise(0L)).as("s3"),
        sum(when(col("f4"), 1L).otherwise(0L)).as("s4"))
      .selectExpr(
        """stack(4,
          |  1, 'min_tokens',    n0 - s1, s1,
          |  2, 'avg_token_len', s1 - s2, s2,
          |  3, 'stopwords',     s2 - s3, s3,
          |  4, 'repetition',    s3 - s4, s4
          |) AS (stage, rule, n_fail, n_surviving)""".stripMargin)
      .orderBy(col("stage"))
  }

  /** Tokenizer-fertility census: (BPE-ish) tokens per whitespace word and
    * chars per subword token, per `langCol` group. Pure per-row counting,
    * one aggregate. (Shared by the q123 oracle query and `corpus-report`.) */
  def tokenFertility(docs: DataFrame, langCol: String, textCol: String): DataFrame =
    docs
      .withColumn("n_bpe", bpeTokenCount(col(textCol)))
      .withColumn("n_ws", tokenCount(col(textCol)))
      .groupBy(col(langCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(length(col(textCol)).cast("long")).as("sum_chars"),
        sum(col("n_bpe")).as("sum_bpe"),
        sum(col("n_ws")).as("sum_words"))
      .withColumn("fertility",
        col("sum_bpe").cast("double") / col("sum_words"))
      .withColumn("chars_per_token",
        col("sum_chars").cast("double") / col("sum_bpe"))
      .orderBy(col(langCol))

  /** DuckDB twin of the [[paddingWaste]] bucket expression. */
  def pow2BucketSql(nExpr: String, minBucket: Int = 32): String =
    s"CAST((1::BIGINT << length(bin(greatest($nExpr, $minBucket) - 1))) AS BIGINT)"

  /** DSIR-style importance weights (Xie et al. 2023, arXiv:2302.03169):
    * score each document by how much more likely its hashed-unigram bag is
    * under a target distribution than under the raw corpus —
    * `log w(doc) = Σ_tokens [ln p_target(bucket) − ln p_raw(bucket)]` with
    * add-one-smoothed bucket probabilities over `buckets` md5-hash
    * features. High-weight docs are the ones importance resampling keeps
    * when fitting a raw crawl to a curated target.
    *
    * Determinism: bucket = 32-bit md5-prefix hash mod `buckets` (the
    * sketch-family discipline — replays in DuckDB); each ln() rounds to
    * DECIMAL(30,9) before the exact per-document decimal sum, so libm and
    * accumulation order cannot skew the score.
    *
    * Scale shape: both probability tables are `buckets`-row aggregates —
    * independent of corpus size — joined broadcast onto the token stream;
    * the only data-sized shuffle is the per-document sum.
    *
    * Reference scope: extension surface beyond reference parity (the
    * quality/sampling family of SURVEY §7 step 8). */
  def dsirWeights(docs: DataFrame, idCol: String, textCol: String,
                  targetPred: Column, buckets: Int = 1024): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val b = lit(buckets.toLong)
    // fan a narrow scan out first: the token explode + md5 bucketing is
    // re-read by three consumers (raw, target, totals) and a one-row-group
    // source would run each pass on a single task
    val toks = Par.fanOutIfNarrow(docs).select(col(idCol), targetPred.as("is_target"),
        explode(split(col(textCol), " ")).as("w"))
      .select(col(idCol), col("is_target"),
        (conv(substring(md5(concat(lit("ds:"), col("w"))), 1, 8), 16, 10)
          .cast("long") % b).as("bucket"))
    val raw = toks.groupBy(col("bucket")).agg(count(lit(1)).as("c_r"))
    val tgt = toks.filter(col("is_target"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("c_t"))
    // totals as 1-row broadcasts; buckets with no target mass still get the
    // +1 smoothing via the outer join's coalesce
    val totals = toks.agg(count(lit(1)).as("t_r"),
      sum(when(col("is_target"), 1L).otherwise(0L)).as("t_t"))
    val lr = raw.join(tgt, Seq("bucket"), "left").crossJoin(broadcast(totals))
      .select(col("bucket"),
        (log((coalesce(col("c_t"), lit(0L)) + lit(1.0)) /
            (col("t_t") + b).cast("double"))
          .cast(DecimalType(30, 9)) -
         log((col("c_r") + lit(1.0)) / (col("t_r") + b).cast("double"))
          .cast(DecimalType(30, 9))).as("lr"))
    toks.join(broadcast(lr), Seq("bucket"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("lr")).cast("double").as("log_weight"))
  }

  /** BPE first-merge census: the frequency table of adjacent character
    * pairs inside whitespace tokens — exactly the statistic byte-pair
    * encoding training computes before its first merge (Sennrich et al.
    * 2016; PAPERS.md). Returns the `topN` most frequent pairs with their
    * occurrence count and the number of distinct words containing them.
    *
    * Scale shape: the explode is one row per character of the corpus (the
    * q107-census class), but the aggregate key space is bounded by the
    * charset squared, so the (pair, word) pre-aggregate combines map-side
    * and the final top-N plans as a TakeOrdered heap — no corpus-sized
    * shuffle ever forms.
    *
    * Reference scope: extension surface beyond reference parity (tokenizer
    * design family of SURVEY §7 step 8). */
  def bpePairCensus(docs: DataFrame, textCol: String = "text",
                    topN: Int = 30): DataFrame = {
    // fan a narrow scan out before the per-character pair explode (no-op
    // on a real multi-split corpus)
    val words = Par.fanOutIfNarrow(docs.select(col(textCol)))
      .select(explode(split(col(textCol), " ")).as("w"))
      .filter(length(col("w")) >= 2)
    words
      .select(col("w"), explode(expr(
        "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")).as("pair"))
      .groupBy(col("pair"))
      .agg(count(lit(1)).as("n_occurrences"),
        countDistinct(col("w")).as("n_distinct_words"))
      .orderBy(col("n_occurrences").desc, col("pair"))
      .limit(topN)
  }

  /** Zipf rank-frequency fit per group: word frequencies ranked count-desc
    * (word-asc tie-break), least-squares slope/intercept of ln(freq) over
    * ln(rank) across the top `topN` ranks. The slope is the corpus-health
    * statistic every corpus report quotes (natural text ≈ -1; templated or
    * boilerplate-heavy sources flatten it).
    *
    * Determinism: each ln is rounded to DECIMAL(30,9) and returned to
    * double, per-point products are single IEEE multiplies of those
    * identical doubles re-rounded to DECIMAL(30,12), sums are exact
    * decimal, and the closed-form slope is the same scalar double
    * expression in both engines — the [[graft.queries.Q]] discipline.
    *
    * Scale shape: one word-keyed count shuffle (map-side combined), a
    * per-group top-`topN` window over the vocabulary table (bounded by
    * distinct words, sublinear in corpus), then a #groups-row aggregate. */
  def zipfSlope(docs: DataFrame, groupCol: String, textCol: String = "text",
                topN: Int = 200): DataFrame =
    zipfSlopeFromTokens(
      docs.select(col(groupCol).as("grp"),
        explode(split(col(textCol), " ")).as("w")), topN)

  /** [[zipfSlope]] over a pre-exploded `(grp, w)` token stream — the
    * corpus-report chaining hook (shares one cached explode with the other
    * unigram censuses). */
  def zipfSlopeFromTokens(toks: DataFrame, topN: Int = 200): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DecimalType
    val freq = toks
      .filter(length(col("w")) > 0)
      .groupBy(col("grp"), col("w"))
      .agg(count(lit(1)).as("f"))
    val pts = freq
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("grp")).orderBy(col("f").desc, col("w"))))
      .filter(col("rank") <= topN)
      .select(col("grp"),
        log(col("rank").cast("double")).cast(DecimalType(30, 9)).cast("double").as("x"),
        log(col("f").cast("double")).cast(DecimalType(30, 9)).cast("double").as("y"))
    pts.groupBy(col("grp"))
      .agg(count(lit(1)).cast("double").as("n"),
        sum(col("x").cast(DecimalType(30, 9))).cast("double").as("sx"),
        sum(col("y").cast(DecimalType(30, 9))).cast("double").as("sy"),
        sum((col("x") * col("y")).cast(DecimalType(30, 12))).cast("double").as("sxy"),
        sum((col("x") * col("x")).cast(DecimalType(30, 12))).cast("double").as("sxx"))
      .select(col("grp"),
        col("n").cast("long").as("n_ranks"),
        ((col("n") * col("sxy") - col("sx") * col("sy")) /
          (col("n") * col("sxx") - col("sx") * col("sx"))).as("slope"),
        ((col("sy") - ((col("n") * col("sxy") - col("sx") * col("sy")) /
          (col("n") * col("sxx") - col("sx") * col("sx"))) * col("sx")) /
          col("n")).as("intercept"))
  }

  /** Corpus novelty census: for each source, the share of its documents'
    * distinct word k-grams that are FIRST seen in that document (first
    * carrier = min doc id over the corpus). The data-ordering /
    * source-value statistic: a source whose novelty share is near zero
    * adds almost nothing the corpus doesn't already contain — the
    * incremental-value number a curation pass uses to decide which crawls
    * to keep ingesting.
    *
    * Scale shape: NO row-preserving join — the first carrier's source
    * rides the `min(struct(id, source))` argmin aggregate (ids are unique,
    * so the lexicographic min picks the min-id row), making both passes
    * over the ngram stream map-side-combined aggregates: per-source totals
    * on the source key, first-carriers on the ngram key, then a
    * #sources-row rollup of the (ngram-bounded) first-carrier table. An
    * earlier join-back formulation measured CPU exponent 1.05 at x100 on
    * the scale curve; this shape removes its second corpus-sized shuffle.
    * The novelty ratio is one double division of exact longs — identical
    * in both engines. */
  def noveltyCensus(docs: DataFrame, idCol: String, textCol: String,
                    sourceCol: String, k: Int = 8): DataFrame = {
    val g = Par.fanOutIfNarrow(docs.select(col(idCol), col(sourceCol), col(textCol)))
      .select(col(idCol), col(sourceCol).as("source"),
        explode(graft.operators.Dedup.shingles(textCol, k)).as("ngram"))
    // shingles are never empty (short docs carry one truncated window), so
    // every doc surfaces in g — n_docs can count the un-exploded corpus,
    // sparing the token stream a second (source, id)-keyed distinct pass
    val nd = docs.groupBy(col(sourceCol).as("source"))
      .agg(count(lit(1)).as("n_docs"))
    val per = g.groupBy(col("source"))
      .agg(count(lit(1)).as("total_ngrams"))
      .join(nd, Seq("source"))
    val novel = g.groupBy(col("ngram"))
      .agg(min(struct(col(idCol), col("source"))).as("f"))
      .groupBy(col("f.source").as("source"))
      .agg(count(lit(1)).as("novel_ngrams"))
    per.join(novel, Seq("source"), "left")
      .withColumn("novel_ngrams", coalesce(col("novel_ngrams"), lit(0L)))
      .withColumn("novelty_share",
        col("novel_ngrams").cast("double") / col("total_ngrams").cast("double"))
      .select(col("source"), col("n_docs"), col("total_ngrams"),
        col("novel_ngrams"), col("novelty_share"))
  }

  /** Heaps'-law vocabulary-growth census — the tokenizer-sizing companion
    * to the Zipf slope ([[zipfSlope]]): per language, total tokens N and
    * distinct types V for the full slice and for a deterministic md5-half
    * of the documents, plus the growth exponent estimate
    * `β ≈ ln(V/V_half) / ln(N/N_half)` (Heaps: V ∝ N^β, natural text
    * β ≈ 0.4–0.6). A language whose β stays high at corpus scale keeps
    * minting new types — its vocabulary budget (and OOV risk, q115) grows
    * with every ingest; β near 0 means the vocabulary has saturated.
    *
    * Determinism: the half-slice membership is a pure md5 function of the
    * doc id (stable as the corpus grows — the [[Splits]] discipline); all
    * four counts are exact integers; each ln rounds to DECIMAL(30,9)
    * before the one double division (the q130 libm discipline).
    *
    * Scale shape: one token-stream shuffle keyed by (lang, word) with
    * map-side combine — after it, state is vocabulary-bounded; the rollup
    * is #languages rows. The half-slice rides the same pass as a flag, not
    * a second scan. */
  def heapsCensus(docs: DataFrame, langCol: String, textCol: String,
                  idCol: String): DataFrame = {
    val inHalf = substring(md5(col(idCol).cast("string")), 1, 1) < lit("8")
    heapsCensusFromTokens(docs
      .select(col(langCol).as("lang"), inHalf.as("h"),
        explode(split(col(textCol), " ")).as("w")))
  }

  /** [[heapsCensus]] over a pre-exploded `(lang, h, w)` token stream —
    * the corpus-report path reuses its one cached explode. */
  def heapsCensusFromTokens(tokens: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    def rln(c: Column): Column =
      log(c.cast("double")).cast(DecimalType(30, 9)).cast("double")
    val perWord = tokens
      .filter(length(col("w")) > 0)
      .groupBy(col("lang"), col("w"))
      .agg(count(lit(1)).as("c"),
        sum(when(col("h"), 1L).otherwise(0L)).as("ch"))
    perWord.groupBy(col("lang"))
      .agg(sum(col("c")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(col("ch")).as("n_tokens_half"),
        sum(when(col("ch") > 0, 1L).otherwise(0L)).as("n_types_half"))
      .select(col("lang"), col("n_tokens"), col("n_types"),
        col("n_tokens_half"), col("n_types_half"),
        ((rln(col("n_types")) - rln(col("n_types_half"))) /
          when(rln(col("n_tokens")) - rln(col("n_tokens_half")) === 0.0, lit(null))
            .otherwise(rln(col("n_tokens")) - rln(col("n_tokens_half"))))
          .as("heaps_beta"))
      .orderBy(col("lang"))
  }

  /** Distributed BPE merge training (Sennrich et al. 2016) — the actual
    * tokenizer-training loop, not just its first-merge census (q129):
    * starting from character tokens over the word-frequency table, each
    * iteration counts adjacent token pairs weighted by word frequency
    * (overlapping occurrences count, matching the reference get_stats),
    * merges the most frequent pair (count desc, pair asc tie-break), and
    * re-segments. Returns the merge table — rank, pair, new token, count —
    * i.e. the model a BPE tokenizer ships.
    *
    * Merge application is leftmost-non-overlapping, expressed as row
    * logic rather than string replace (replace() boundary-consumption
    * differs from BPE semantics): a position matches when (tok, next) =
    * (a, b), and for the self-pair a = b only even offsets within each
    * equal-token run merge (gaps-and-islands run ids; for a ≠ b adjacent
    * matches are impossible, so no match is ever consumed by another).
    * Every step is engine-neutral — the DuckDB oracle replays all
    * iterations with the same windows.
    *
    * Scale shape: ONE corpus scan builds the word-frequency table; every
    * iteration after that works on vocabulary-bounded rows (the same
    * shape production BPE trainers exploit by holding word counts in
    * memory), with one driver round-trip per merge (the 1-row argmax —
    * the model itself). localCheckpoint truncates the per-iteration plan
    * like the components loop. */
  def bpeTrainMerges(docs: DataFrame, textCol: String, nMerges: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = docs.sparkSession
    import spark.implicits._
    // The corpus-sized part — token explode → word-frequency table →
    // character segmentation — runs ONCE, under AQE, and is materialized
    // eagerly; everything after works on the vocabulary-bounded segment
    // table. For the loop itself AQE is a pure tax: every exchange
    // materializes as its OWN job, putting ~5 driver round-trips behind
    // each of the 8 merges (round-17 profile: 46 jobs, wall ≈ pure job
    // latency at 0.3 CPU/wall). So a loop session runs it with AQE off at a
    // shuffle width taken from what AQE itself chose for the materialized
    // segment table — data-proportional at any scale (1 at the fixture
    // sizes, wider when the vocabulary actually is wide). Checkpoints in
    // the loop are LAZY: the next merge's argmax materializes them inside
    // its own job (the components-loop discipline) instead of paying a
    // separate eager-checkpoint job per iteration.
    val wc = docs
      .select(explode(split(col(textCol), " ")).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
    val segments = wc
      .select(col("word"), col("cnt"), posexplode(expr(
        "transform(sequence(1, length(word)), i -> substring(word, i, 1))"))
        .as(Seq("pos", "tok")))
      .select(col("word"), col("cnt"), col("pos").cast("long").as("pos"), col("tok"))
      .localCheckpoint(true)
    val loopWidth = math.max(1, segments.rdd.getNumPartitions)
    graft.GraftSession.withLoopSession(spark, loopWidth, segments) { case Seq(segments) =>
      var seg = segments
      val byPos = Window.partitionBy(col("word")).orderBy(col("pos"))
      val merges = (0 until nMerges).flatMap { rank =>
        val withNext = seg.withColumn("nxt", lead(col("tok"), 1).over(byPos))
        val best = withNext.filter(col("nxt").isNotNull)
          .groupBy(concat(col("tok"), lit("~"), col("nxt")).as("pair"))
          .agg(sum(col("cnt")).as("pc"))
          .orderBy(col("pc").desc, col("pair"))
          .limit(1).collect()
        if (best.isEmpty) None
        else {
          val pair = best.head.getString(0)
          val pc = best.head.getLong(1)
          val Array(a, b) = pair.split('~')
          val runGrp = col("pos") -
            row_number().over(Window.partitionBy(col("word"), col("tok")).orderBy(col("pos")))
          val runStart = min(col("pos")).over(
            Window.partitionBy(col("word"), col("tok"), col("grp")))
          seg = withNext
            .withColumn("grp", runGrp)
            .withColumn("matched", col("tok") === lit(a) && col("nxt") <=> lit(b) &&
              (lit(a != b) || (col("pos") - runStart) % 2 === 0))
            .withColumn("consumed", coalesce(lag(col("matched"), 1).over(byPos), lit(false)))
            .filter(!col("consumed"))
            .select(col("word"), col("cnt"),
              (row_number().over(byPos) - 1).cast("long").as("pos"),
              when(col("matched"), lit(a + b)).otherwise(col("tok")).as("tok"))
            .localCheckpoint(false)
          Some((rank.toLong, pair, a + b, pc))
        }
      }
      merges.toDF("merge_rank", "pair", "new_token", "pair_count")
        .orderBy(col("merge_rank"))
    }
  }

  /** Token-budget mixture plan — the epoch table a pretraining run
    * publishes: per source, its token count, natural share, α=0.5
    * temperature weight (sqrt share, the q86 discipline applied to TOKENS),
    * the tokens planned for it under a `budgetShare`-of-corpus training
    * budget, and the resulting epoch count. `epochs > 1` flags the sources
    * the plan would repeat (memorization risk ↑); `epochs ≪ 1` flags
    * near-discarded ones. This is the decision artifact between q86
    * (weights) and q112 (the materialized order).
    *
    * Determinism: token counts are exact integers; each sqrt is
    * IEEE-correctly-rounded then DECIMAL(30,9)-rounded BEFORE the
    * normalizing sum (the q130 libm/order discipline), and the remaining
    * arithmetic is an identical double expression tree in both engines.
    *
    * Scale shape: one corpus scan → #sources-row aggregate; totals ride a
    * 1-row broadcast crossJoin. */
  def tokenBudgetPlan(docs: DataFrame, sourceCol: String, textCol: String,
                      budgetShare: Double = 0.5): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val counts = docs.groupBy(col(sourceCol).as("source"))
      .agg(count(lit(1)).as("n_docs"), sum(tokenCount(col(textCol))).as("n_tokens"))
      .withColumn("sw", sqrt(col("n_tokens").cast("double")).cast(DecimalType(30, 9)))
    counts
      .crossJoin(broadcast(counts.agg(
        sum(col("n_tokens")).as("total_tokens"), sum(col("sw")).as("sum_sw"))))
      .withColumn("natural_share",
        col("n_tokens").cast("double") / col("total_tokens").cast("double"))
      .withColumn("weight", col("sw").cast("double") / col("sum_sw").cast("double"))
      .withColumn("planned_tokens",
        col("total_tokens").cast("double") * lit(budgetShare) * col("weight"))
      .withColumn("epochs", col("planned_tokens") / col("n_tokens").cast("double"))
      .select(col("source"), col("n_docs"), col("n_tokens"), col("natural_share"),
        col("weight"), col("planned_tokens"), col("epochs"))
      .orderBy(col("source"))
  }

  /** N-gram novelty saturation curve — the diminishing-returns report that
    * answers "is more of this corpus still worth ingesting?" (the dedup
    * literature's saturation argument made measurable): documents are
    * binned into 16 deterministic md5 pseudo-ingestion batches, and each
    * batch reports how many distinct word k-grams it touches vs how many
    * it is the FIRST to carry. A novelty share collapsing toward zero
    * batch-over-batch means the crawl has saturated.
    *
    * Scale shape: per-(batch, gram) distinct collapses map-side; the
    * first-carrier pass is a gram-keyed min aggregate; the 16-row cumsum
    * is a tiny triangular self-join (NOT an unpartitioned window — no
    * single-partition stage, no WindowExec warning in the bench tail). */
  def noveltySaturation(docs: DataFrame, idCol: String, textCol: String,
                        k: Int = 8): DataFrame = {
    // fan a narrow scan out before the per-row shingle explode (no-op on a
    // real multi-split corpus)
    val g = Par.fanOutIfNarrow(docs.select(col(idCol), col(textCol))).select(
        substring(md5(col(idCol).cast("string")), 1, 1).as("batch"),
        explode(graft.operators.Dedup.shingles(textCol, k)).as("gram"))
      .groupBy(col("batch"), col("gram")).agg(count(lit(1)).as("n_carriers"))
    val totals = g.groupBy(col("batch")).agg(count(lit(1)).as("n_grams"))
    val novel = g.groupBy(col("gram")).agg(min(col("batch")).as("batch"))
      .groupBy(col("batch")).agg(count(lit(1)).as("n_novel"))
    val per = totals.join(novel, Seq("batch"), "left")
      .withColumn("n_novel", coalesce(col("n_novel"), lit(0L)))
    per.as("a")
      .join(per.as("b"), col("b.batch") <= col("a.batch"))
      .groupBy(col("a.batch").as("batch"), col("a.n_grams").as("n_grams"),
        col("a.n_novel").as("n_novel"))
      .agg(sum(col("b.n_novel")).as("cum_novel"))
      .withColumn("novelty_share",
        col("n_novel").cast("double") / col("n_grams").cast("double"))
      .select(col("batch"), col("n_grams"), col("n_novel"), col("cum_novel"),
        col("novelty_share"))
      .orderBy(col("batch"))
  }

  /** Boilerplate-line census (the report a CCNet/RefinedWeb-style line
    * dedup pass runs FIRST): the corpus is cut into fixed-`lineTokens`
    * token lines ([[LineDedup]]'s cutting), a line is boilerplate when it
    * appears in at least `minDocs` distinct documents corpus-wide, and
    * each source reports how much of its volume that boilerplate is —
    * occurrences, affected docs, and the share a line-dedup pass would
    * reclaim. Sources dominated by nav/footer-style repetition surface at
    * the top of this table before anyone spends a dedup run on them.
    *
    * Scale shape: line cutting is per-row array arithmetic with a single
    * explode; the doc-frequency aggregate is a (line, doc)-keyed distinct
    * rewrite (partial dedup map-side, so a viral line spreads over the
    * (line, doc) key space rather than one reducer); the occurrence join
    * back is line-keyed on (line, doc, source)-level pre-aggregated rows —
    * AQE's skew-join split handles the one-viral-line hot key. Per-source
    * rollup state is bounded by the source vocabulary. */
  def boilerplateCensus(docs: DataFrame, idCol: String, textCol: String,
                        sourceCol: String, lineTokens: Int = 10,
                        minDocs: Int = 2): DataFrame = {
    // (line, doc, source)-level pre-agg: the map-side combine collapses
    // within-doc repeats before anything shuffles; WordLines is the native
    // codegen'd cutting shared with LineDedup
    // NOT fanned out (round-17 measurement: 0.64 -> 0.82 s wall): the
    // (line, doc, source) pre-aggregate combines map-side out of the scan
    val lineDoc = docs
      .select(col(idCol).as("id"), col(sourceCol).as("source"),
        explode(graft.functions.GraftFunctions.wordLines(col(textCol), lineTokens))
          .as("line"))
      .groupBy(col("line"), col("id"), col("source"))
      .agg(count(lit(1)).as("occ"))
    val docFreq = lineDoc.groupBy(col("line"))
      .agg(count(lit(1)).as("docs")) // one row per (line, doc) upstream
    lineDoc.join(docFreq, Seq("line"))
      .groupBy(col("source"))
      .agg(
        sum(col("occ")).as("n_lines"),
        sum(when(col("docs") >= minDocs, col("occ")).otherwise(0L)).as("n_boiler_lines"),
        countDistinct(when(col("docs") >= minDocs, col("id"))).as("n_docs_affected"),
        (sum(when(col("docs") >= minDocs, col("occ")).otherwise(0L)).cast("double") /
          sum(col("occ")).cast("double")).as("boiler_share"))
      .orderBy(col("source"))
  }

  /** PMI collocation mining: pointwise mutual information of adjacent word
    * pairs — ln(P(ab) / (P(a)·P(b))) over corpus bigram/unigram counts —
    * for pairs seen at least `minCount` times; top `topN` by PMI. The
    * phrase-detection statistic a tokenizer-vocabulary or quality pass
    * runs to find multiword units worth fusing.
    *
    * Determinism: PMI's argument is a scalar double expression over exact
    * integer counts (identical in both engines); the single ln rounds to
    * DECIMAL(30,6) — coarse enough to absorb a last-ulp libm divergence —
    * before ordering, with a (w1, w2) tie-break.
    *
    * Scale shape: bigram and unigram count shuffles both combine map-side
    * and are bounded by vocabulary, not corpus; totals ride as 1-row
    * broadcasts; the `minCount` filter prunes the tail before the joins;
    * top-N plans as a TakeOrdered heap. */
  def pmiCollocations(docs: DataFrame, textCol: String = "text",
                      minCount: Long = 5, topN: Int = 30): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val t = split(col(textCol), " ")
    // NOT fanned out (round-17 measurement: 0.35 -> 0.67 s wall) - both
    // count aggregates combine map-side into vocabulary-bounded state, the
    // exact shape where a prepended exchange only adds passes
    val bg = docs.filter(size(t) >= 2)
      .select(explode(graft.functions.GraftFunctions.wordNgrams(col(textCol), 2))
        .as("bg"))
      .select(substring_index(col("bg"), " ", 1).as("w1"),
        substring_index(col("bg"), " ", -1).as("w2"))
    val c2 = bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c_ab"))
    val uni = docs.select(explode(t).as("w")).groupBy(col("w"))
      .agg(count(lit(1)).as("c_w"))
    val totals = c2.agg(sum(col("c_ab")).as("n2"))
      .crossJoin(uni.agg(sum(col("c_w")).as("n1")))
    c2.filter(col("c_ab") >= minCount)
      .join(uni.select(col("w").as("w1"), col("c_w").as("c_a")), Seq("w1"))
      .join(uni.select(col("w").as("w2"), col("c_w").as("c_b")), Seq("w2"))
      .crossJoin(broadcast(totals))
      .withColumn("pmi",
        log((col("c_ab").cast("double") / col("n2").cast("double")) /
            ((col("c_a").cast("double") / col("n1").cast("double")) *
             (col("c_b").cast("double") / col("n1").cast("double"))))
          .cast(DecimalType(30, 6)).cast("double"))
      .select(col("w1"), col("w2"), col("c_ab"), col("pmi"))
      .orderBy(col("pmi").desc, col("w1"), col("w2"))
      .limit(topN)
  }

  /** Per-source token-length quantile table — the corpus-card length
    * section (truncation/padding planning reads p90/p99, not the mean):
    * exact interpolated percentiles over integer token counts, one
    * group-aggregate per source (percentile state is a per-group sorted
    * buffer of COUNTS by distinct length — bounded by the length range,
    * not the doc count). Oracle twin: q150. */
  def lengthQuantiles(docs: DataFrame, sourceCol: String = "source",
                      textCol: String = "text"): DataFrame =
    docs.select(col(sourceCol).as("source"), tokenCount(col(textCol)).as("n_tok"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        expr("percentile(n_tok, 0.1)").as("p10"),
        expr("percentile(n_tok, 0.5)").as("p50"),
        expr("percentile(n_tok, 0.9)").as("p90"),
        expr("percentile(n_tok, 0.99)").as("p99"),
        max(col("n_tok")).as("max_tok"))
      .orderBy(col("source"))

  /** TF-IDF heavy terms per source from a pre-exploded `(source, word)`
    * token stream — the corpus-card "distinctive vocabulary" section.
    * idf = ln(n_sources / source_freq) over exact integer counts, rounded
    * DECIMAL(30,9) straight after the transcendental; score = tf · idf is
    * one double product. Both count shuffles are vocabulary-bounded with
    * map-side combine; the source count rides as a 1-row broadcast; the
    * per-source top-k is a rank window over vocabulary-sized groups.
    * Oracle twin: q151. */
  def tfidfTermsFromTokens(tokens: DataFrame, topK: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DecimalType
    val tf = tokens.groupBy(col("source"), col("word"))
      .agg(count(lit(1)).as("tf"))
    val nSrc = tokens.agg(countDistinct(col("source")).as("n_src"))
    val dfS = tf.groupBy(col("word")).agg(count(lit(1)).as("df_s"))
    tf.join(dfS, Seq("word")).crossJoin(broadcast(nSrc))
      .withColumn("idf",
        log(col("n_src").cast("double") / col("df_s").cast("double"))
          .cast(DecimalType(30, 9)).cast("double"))
      .withColumn("score", col("tf").cast("double") * col("idf"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("source")).orderBy(col("score").desc, col("word"))))
      .filter(col("rnk") <= topK)
      .select(col("source"), col("word"), col("tf"), col("score"), col("rnk"))
      .orderBy(col("source"), col("rnk"))
  }

  /** n-gram diversity census: distinct k-grams / k-gram occurrences per
    * source — the content-repetitiveness analogue of token-level TTR (a
    * templated source scores low even when its token TTR looks healthy).
    * Native codegen'd WordNgrams cutting (truncated window for short
    * docs); one vocabulary-bounded shuffle, distincts partial-agg
    * friendly, no joins. Oracle twin: q154. */
  def ngramDiversity(docs: DataFrame, sourceCol: String = "source",
                     idCol: String = "doc_id", textCol: String = "text",
                     k: Int = 3): DataFrame =
    Par.fanOutIfNarrow(docs.select(col(sourceCol), col(idCol), col(textCol)))
      .select(col(sourceCol).as("source"), col(idCol).as("id"),
        explode(graft.functions.GraftFunctions.wordNgrams(col(textCol), k)).as("g"))
      .groupBy(col("source"))
      .agg(countDistinct(col("id")).as("n_docs"),
        count(lit(1)).as("n_occ"),
        countDistinct(col("g")).as("n_types"))
      .withColumn("diversity",
        col("n_types").cast("double") / col("n_occ").cast("double"))
      .orderBy(col("source"))
}
