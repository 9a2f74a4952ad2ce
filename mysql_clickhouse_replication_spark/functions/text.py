"""String functions + text-analysis / dedup operators for LLM data
pipelines (SURVEY.md sections 2.I fn_string, 2.K text keys).

Reference parity: fn_string mirrors the ClickHouse string-function surface
over replicated tables (SURVEY.md section 3.1; [P:med]); the 2.K keys are
the mandated pipeline extensions (BASELINE.json north star): exact dedup,
MinHash near-dup detection, corpus statistics, tf-idf terms.

Scale notes (100 TB):

* dedup_exact_text is a hash-groupBy on md5(text) — one shuffle keyed by
  a 128-bit digest, no text comparison, no skew (hash keys are uniform).
* dedup_minhash is the banded-LSH shape: shingle -> K minhashes -> K
  single-row bands -> bucket join -> exact-Jaccard verify of CANDIDATES
  only. Never an all-pairs join: candidate generation is linear in corpus
  size + bucket-pair output. The xxhash64 minhashes are Spark-internal
  (candidates only); correctness comes from the exact verify, which is
  what the oracle checks, so engine-specific hashing never leaks into
  results. Recall: a J>=0.5 pair escapes all 24 bands with prob
  (1-J)^24 <= 6e-8 — deterministic in practice and verified at both test
  scale factors.
* text_tfidf_terms broadcast-joins the term->docfreq side (bounded by
  vocabulary size, tiny vs corpus).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import register
from ..session import session_memo, table

_N_BANDS = 24
_BAND_ROWS = 2  # 48 minhashes; band collision prob = J^2 per band
_JACCARD_T = 0.5


@register(
    "fn_string",
    oracle="""
SELECT p_partkey,
       upper(p_name)                      AS name_upper,
       substr(p_name, 1, 5)               AS name_pfx,
       length(p_name)                     AS name_len,
       concat_ws('|', p_brand, p_type)    AS brand_type,
       replace(p_name, ' ', '_')          AS name_snake,
       split_part(p_name, ' ', 1)         AS first_word,
       strpos(p_name, 'e')                AS first_e,
       lpad(CAST(p_size AS VARCHAR), 3, '0') AS size_padded,
       regexp_extract(p_brand, '#([0-9]+)', 1) AS brand_num,
       levenshtein(p_brand, 'Brand#10')   AS brand_dist,
       translate(p_name, 'aeiou', 'AEIOU') AS name_vowels
FROM part
""",
)
def fn_string(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String family: case, substring, length, concat, replace, split,
    position, padding, regex capture, edit distance, translate — all
    JVM-side builtins (ClickHouse upper/substring/replaceAll/
    extract/levenshtein equivalents)."""
    p = table(spark, sf_dir, "part")
    name = F.col("p_name")
    return p.select(
        "p_partkey",
        F.upper(name).alias("name_upper"),
        F.substring(name, 1, 5).alias("name_pfx"),
        F.length(name).alias("name_len"),
        F.concat_ws("|", F.col("p_brand"), F.col("p_type")).alias("brand_type"),
        F.replace(name, F.lit(" "), F.lit("_")).alias("name_snake"),
        F.split_part(name, F.lit(" "), F.lit(1)).alias("first_word"),
        F.instr(name, "e").alias("first_e"),
        F.lpad(F.col("p_size").cast("string"), 3, "0").alias("size_padded"),
        F.regexp_extract(F.col("p_brand"), "#([0-9]+)", 1).alias("brand_num"),
        F.levenshtein(F.col("p_brand"), F.lit("Brand#10")).alias("brand_dist"),
        F.translate(name, "aeiou", "AEIOU").alias("name_vowels"),
    )


@register(
    "dedup_exact_text",
    oracle="""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 10 = 0
)
SELECT md5(text) AS text_md5, MIN(doc_id) AS keep_doc_id, COUNT(*) AS n_copies
FROM corpus GROUP BY md5(text)
""",
)
def dedup_exact_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by content hash: group on md5(text), keep the lowest
    doc_id. The fixtures carry no exact duplicates at the gate's scale
    factor, so a deterministic clone set (every 10th doc re-appended with
    an offset id, simulating a re-crawl) is injected first — the dedup
    then provably collapses them. One shuffle on the digest; at 100 TB
    this replaces any sort- or compare-based dedup."""
    d = table(spark, sf_dir, "documents").select("doc_id", "text")
    clones = d.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    return (
        d.unionByName(clones)
        .groupBy(F.md5("text").alias("text_md5"))
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def _docs_spread(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents, repartitioned by doc_id BEFORE the CPU-heavy per-row
    array transforms. The fixture parquet is a single row group, so the
    scan is one task and every downstream HOF (shingling, gram
    extraction, 48-way hashing) would run single-threaded; a ~1.5 MB
    shuffle buys full-core parallelism AND pre-partitions on doc_id so
    the signature groupBy needs no second exchange (measured: sig
    pipeline 4.7 s -> 2.6 s at sf0.1). At 100 TB the input arrives
    multi-partition and Catalyst elides nothing here — the repartition
    is then a cheap no-op-shaped hint, not an extra pass.

    Tradeoff measured BOTH ways: an explicit repartition also pins the
    partition count (AQE will not coalesce user repartitioning), so for
    the ~4x cheaper word-shingle pipeline (dedup_minhash) the 32-tiny-
    task overhead EXCEEDED the parallelism gain (1.4 s -> 2.6 s) and it
    stays single-scan there. Only the char-gram pipeline clears the bar."""
    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    return table(spark, sf_dir, "documents").repartition(n, "doc_id")


def _shingled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """doc_id -> distinct word-3-gram shingles (assumes >=3 tokens per doc,
    which the fixture guarantees; 1-gram Jaccard would be degenerate here:
    the corpus vocabulary is ~31 words).

    The token array is materialized as a column BEFORE the shingle
    lambda (r14): ``slice(split(text), i, 3)`` inside ``transform``
    re-splits the text once per position — O(tokens^2) per doc — the
    exact trap dedup_containment measured and fixed in r8 (29.7 s ->
    16.5 s per shingling pass at sf1); split() used twice is non-cheap,
    so CollapseProject keeps the two-level projection and the split
    runs once per row."""
    d = table(spark, sf_dir, "documents")
    return d.select("doc_id", F.split("text", " ").alias("toks")).select(
        "doc_id",
        F.expr(
            "array_distinct(transform(sequence(1, size(toks) - 2),"
            " i -> concat_ws(' ', slice(toks, i, 3))))"
        ).alias("shingles"),
    )



def _minhash_band_frames(sh: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(sigs, bands) for the 48-minhash banded LSH keys.  Expressions are
    SQL strings, not Column trees: the Column spelling of this block was
    ~400 py4j round trips (48 x min/xxhash64/lit/col/alias plus 24 band
    structs), all paid at query CONSTRUCTION — inside the bench's timed
    region — while the string form builds the IDENTICAL analyzed plan in
    one JVM call per expression (the one-SQL-string rule of
    operators._util.values_df, applied to wide aggregates)."""
    n_hashes = _N_BANDS * _BAND_ROWS
    exploded = sh.select("doc_id", F.explode("shingles").alias("sh"))
    sigs = exploded.groupBy("doc_id").agg(
        F.expr("min(xxhash64(0, sh)) AS m0"),
        *[F.expr(f"min(xxhash64({i}, sh)) AS m{i}") for i in range(1, n_hashes)],
    )
    band_arr = ", ".join(
        f"named_struct('h1', m{_BAND_ROWS * i}, 'h2', m{_BAND_ROWS * i + 1})"
        for i in range(_N_BANDS)
    )
    bands = sigs.select(
        "doc_id",
        F.posexplode(F.expr(f"array({band_arr})")).alias("band", "sig"),
    )
    return sigs, bands


_MINHASH_ORACLE = f"""
WITH sh AS (
  SELECT doc_id,
         list_distinct([array_to_string(toks[i:i+2], ' ')
                        FOR i IN range(1, len(toks) - 1)]) AS shingles
  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       ROUND(CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
             / (len(a.shingles) + len(b.shingles)
                - len(list_intersect(a.shingles, b.shingles))), 6) AS jaccard
FROM sh a JOIN sh b ON a.doc_id < b.doc_id
WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
      / (len(a.shingles) + len(b.shingles)
         - len(list_intersect(a.shingles, b.shingles))) >= {_JACCARD_T}
"""


@register("dedup_minhash", oracle=_MINHASH_ORACLE)
def dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate pairs (3-gram-shingle Jaccard >= 0.5) via banded
    MinHash LSH: 48 minhashes in 24 bands of 2 rows, bucket join on
    (band, signature), exact-Jaccard verification of candidates only.
    The oracle is the brute-force exact join — feasible at oracle scale,
    quadratic death at 100 TB (it times out at sf0.1 already, BASELINE.md),
    which is exactly why the Spark plan is the banded shape. 2-row bands
    cut background collisions ~J^2 (single-row bands drown this
    high-overlap corpus in candidates: 227k pairs vs ~10k); a true pair
    escapes all 24 bands with prob (1-J^2)^24 — ~2e-11 at the J>=0.9 the
    fixture's planted near-dups sit at, verified exact-equal to the
    brute-force oracle at both gate scale factors."""
    # cached for its multiple consumers; released harness-side via
    # clearCache after each key (the r8 ADVICE lifetime convention)
    sh = _shingled(spark, sf_dir).cache()
    _sigs, bands = _minhash_band_frames(sh)
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    sa = sh.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a"))
    sb = sh.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = F.size("sh_a") + F.size("sh_b") - F.size(
        F.array_intersect("sh_a", "sh_b")
    )
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("jaccard", inter / union)
        .filter(F.col("jaccard") >= _JACCARD_T)
        .select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))
    )


@register(
    "text_stats",
    oracle="""
SELECT lang, source,
       COUNT(*) AS n_docs,
       CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS sum_tokens,
       CAST(SUM(len(string_split(text, ' '))) * 1000000 // COUNT(*) AS BIGINT)
           AS avg_tokens_ppm,
       CAST(SUM(length(text)) AS BIGINT) AS total_chars,
       MIN(n_chars) AS min_chars,
       MAX(n_chars) AS max_chars
FROM documents GROUP BY lang, source
""",
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(lang, source) corpus statistics: doc counts, token totals and
    mean token count, character volumes.  The quality-scoring primitive
    of a training-data pipeline.

    ``sum_tokens`` is the exact integer surface; the mean is surfaced as
    ``avg_tokens_ppm`` — all-integer floor division on the exact totals
    (the docs_quality_filter_pipeline ppm convention).  The earlier
    ROUND(...,6) DOUBLE spelling hash-drifted in the driver gate twice
    (CORRECTNESS_r03 + r04) despite matching locally; no float is ever
    computed here now."""
    d = table(spark, sf_dir, "documents")
    n_tokens = F.size(F.split(F.col("text"), " "))
    return d.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(n_tokens).alias("sum_tokens"),
        F.expr(
            "CAST(sum(size(split(text, ' '))) * 1000000"
            " DIV count(1) AS BIGINT)"
        ).alias("avg_tokens_ppm"),
        F.sum(F.length("text")).alias("total_chars"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )


@register(
    "text_tfidf_terms",
    oracle="""
WITH tok AS (
  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS term FROM documents
),
tf AS (SELECT lang, term, COUNT(*) AS tf FROM tok GROUP BY lang, term),
df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY term),
n AS (SELECT COUNT(*) AS n FROM documents)
SELECT lang, term, tf, ROUND(tf * LN(n / df), 6) AS tfidf
FROM tf JOIN df USING (term) CROSS JOIN n
QUALIFY ROW_NUMBER() OVER (PARTITION BY lang
                           ORDER BY ROUND(tf * LN(n / df), 6) DESC, term) <= 5
""",
)
def text_tfidf_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 tf-idf terms per language slice, banded two-phase ranking.

    Scale shape (r6 verdict nit: the old per-lang ranking window held
    the FULL per-lang vocabulary in one reducer — sublinear in the
    corpus per Heaps' law, but unbounded): phase 1 ranks inside
    (lang, band) where band = xxhash64(term) % 64, so each window
    frame holds ~|vocab_lang|/64 rows and the exchange fans out across
    the cluster; phase 2 re-ranks only the <= 5*64 = 320 surviving
    candidates per lang — a constant-bounded frame.  The global top-5
    is exact: any global top-5 term is necessarily in its own band's
    top-5.  The tf-df join carries NO broadcast hint — df is
    vocabulary-sized (Heaps-unbounded at web scale), so the strategy
    is left to Catalyst/AQE: broadcast at bench scale, shuffle-hash
    at 100 TB, both on the same term key as tf's own aggregation.
    Scores rounded BEFORE ranking with a term tiebreak so both engines
    rank identically."""
    d = table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", "lang", F.explode(F.split(F.col("text"), " ")).alias("term")
    )
    tf = tok.groupBy("lang", "term").agg(F.count(F.lit(1)).alias("tf"))
    df = tok.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    n = d.agg(F.count(F.lit(1)).alias("n"))
    scored = (
        tf.join(df, "term")
        .crossJoin(F.broadcast(n))
        .withColumn("tfidf", F.round(F.col("tf") * F.log(F.col("n") / F.col("df")), 6))
        .withColumn("band", F.pmod(F.xxhash64("term"), F.lit(64)))
    )
    w_band = Window.partitionBy("lang", "band").orderBy(
        F.desc("tfidf"), F.asc("term")
    )
    w_lang = Window.partitionBy("lang").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rn_band", F.row_number().over(w_band))
        .filter(F.col("rn_band") <= 5)
        .withColumn("rn", F.row_number().over(w_lang))
        .filter(F.col("rn") <= 5)
        .select("lang", "term", "tf", "tfidf")
    )


# ---------------------------------------------------------------------------
# SimHash near-dup: 32-bit shingle-feature simhash, 4 bands x 8 bits.
# Feature hash is PORTABLE (first 8 hex chars of md5 -> bigint) so the
# signature itself is oracle-checkable, unlike the xxhash64 minhashes.
_SIMHASH_BITS = 32
_SIMHASH_BANDS = 4  # 8 bits each; hamming<=3 => >=1 identical band (pigeonhole)
_HAMMING_T = 3

_SIMHASH_SQL = (
    "WITH sh0 AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),\n"
    "tok AS (SELECT doc_id, unnest(list_distinct([array_to_string(toks[i:i+2], ' ')\n"
    "                 FOR i IN range(1, len(toks)-1)])) AS t FROM sh0),\n"
    "h AS (SELECT doc_id, ('0x'||substr(md5(t),1,8))::BIGINT AS h FROM tok),\n"
    "sh AS (SELECT doc_id, "
    + " + ".join(
        f"(CASE WHEN SUM(CASE WHEN (h // {1 << b}) % 2 = 1 THEN 1 ELSE -1 END)"
        f" > 0 THEN {1 << b} ELSE 0 END)"
        for b in range(_SIMHASH_BITS)
    )
    + " AS simhash FROM h GROUP BY doc_id)"
)


@register(
    "dedup_simhash",
    oracle=f"""
{_SIMHASH_SQL}
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       bit_count(xor(a.simhash, b.simhash)) AS hamming
FROM sh a JOIN sh b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {_HAMMING_T}
""",
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate pairs by SimHash: each doc's 3-gram shingles hash to
    portable 32-bit features (md5-derived, identical in DuckDB); the
    simhash sets bit b to the SIGN of the +/-1 vote sum over features.
    Banding splits the fingerprint into 4 bytes — a pair within hamming
    distance {_HAMMING_T} differs in <= {_HAMMING_T} bands, so by pigeonhole at least
    one band is identical and the band-bucket join has EXACT recall (the
    oracle is the brute-force pair scan and matches bit-for-bit). One
    shuffle to build signatures (32 map-side-combined sums), candidates
    only through the verify — never an all-pairs join. Single-token
    features are useless on this ~31-word vocabulary (hamming-0
    collisions between unrelated docs, measured); shingle features give
    a clean gap: true near-dups at hamming<=3, background at >=6."""
    sh = _shingled(spark, sf_dir)
    feat = sh.select("doc_id", F.explode("shingles").alias("t"))
    h = feat.select(
        "doc_id",
        F.conv(F.substring(F.md5("t"), 1, 8), 16, 10).cast("bigint").alias("h"),
    )
    # SQL-string expressions (not Column trees) for the 32 vote sums, the
    # 32-bit fold and the band array: the Column spelling was ~300 py4j
    # round trips of query-construction time inside the bench's timed
    # region; the strings build the IDENTICAL analyzed plan (see
    # _minhash_band_frames).
    votes = h.groupBy("doc_id").agg(
        F.expr(
            "sum(CASE WHEN (shiftright(h, 0) & 1) = 1"
            " THEN 1 ELSE -1 END) AS s0"
        ),
        *[
            F.expr(
                f"sum(CASE WHEN (shiftright(h, {b}) & 1) = 1"
                f" THEN 1 ELSE -1 END) AS s{b}"
            )
            for b in range(1, _SIMHASH_BITS)
        ],
    )
    fold = " + ".join(
        f"(CASE WHEN s{b} > 0 THEN {1 << b} ELSE 0 END)"
        for b in range(_SIMHASH_BITS)
    )
    simhash = votes.select("doc_id", F.expr(f"{fold} AS simhash"))
    band_arr = ", ".join(
        f"(shiftright(simhash, {8 * i}) & 255)" for i in range(_SIMHASH_BANDS)
    )
    bands = simhash.select(
        "doc_id",
        "simhash",
        F.posexplode(F.expr(f"array({band_arr})")).alias("band", "val"),
    )
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("sim_a"),
            F.col("b.simhash").alias("sim_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
    return (
        cand.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= _HAMMING_T)
        .select("doc_a", "doc_b", "hamming")
    )


# ---------------------------------------------------------------------------
# Character-n-gram Jaccard dedup: banded-minhash candidates, sig-agreement
# prune, exact verify.
_NGRAM_N = 5
_NGRAM_T = 0.8
_NG_BANDS = 12
_NG_ROWS = 4  # band collision prob = J^4: steep enough to mute J~0.25 noise
_NG_EST_T = 0.6  # minhash-agreement prune; background tops out at J~0.28


@register(
    "dedup_ngram_jaccard",
    oracle=f"""
WITH ng AS (
  SELECT doc_id,
         list_distinct([substr(text, i, {_NGRAM_N})
                        FOR i IN range(1, greatest(length(text)-{_NGRAM_N - 1},1)+1)]) AS g
  FROM documents
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       ROUND(CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
             / (len(a.g) + len(b.g) - len(list_intersect(a.g, b.g))), 6) AS jaccard
FROM ng a JOIN ng b ON a.doc_id < b.doc_id
WHERE CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
      / (len(a.g) + len(b.g) - len(list_intersect(a.g, b.g))) >= {_NGRAM_T}
""",
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-{_NGRAM_N}-gram Jaccard near-dup (threshold {_NGRAM_T}),
    three JVM-only stages sized from the MEASURED corpus geometry (true
    pairs J in [0.93, 0.99], background p99.9 = 0.28 — a wide gap):

    1. Banded MinHash: 48 minhashes, {_NG_BANDS} bands x {_NG_ROWS} rows.
       Band collision prob J^{_NG_ROWS} — steep enough that the J~0.25
       background (which drowns 2-row bands: measured 10M+ candidates)
       stays ~1-5%, while a true J>=0.93 pair escapes all bands with
       prob (1-0.93^{_NG_ROWS})^{_NG_BANDS} ~= 6e-8.
    2. Signature-agreement prune: join the full 48-hash signatures back
       (48 flat columns — whole-stage-codegen comparisons, no HOF, no
       Python) and require >= {_NG_EST_T} of hashes to agree. E[agree] =
       J, so background candidates sit ~12/48 and true pairs ~45/48 —
       the Chernoff tails make both error directions astronomically
       small. Survivors: ~the true pairs only.
    3. Exact-Jaccard verify of the few survivors (array_intersect; at
       this volume the interpreted HOF is irrelevant).

    Why not SSJoin/PPJoin prefix filtering (the exact-recall textbook
    alternative)? Implemented and measured first: this fixture's
    template text yields a ~2k-gram vocabulary shared by every doc, so
    even with the positional upper-bound filter
    (1 + min(sz_a-rn_a, sz_b-rn_b) >= ceil(t/(1+t)*(sz_a+sz_b))) the
    candidate set was 1.5M of 12.5M pairs at sf0.1 — prefix filtering
    prunes on RARE grams and degrades to near-all-pairs when no gram is
    rare. Signature agreement tracks true similarity instead of gram
    rarity, which is the property that survives both template-heavy
    corpora and 100 TB."""
    n_hashes = _NG_BANDS * _NG_ROWS
    d = _docs_spread(spark, sf_dir)
    ng = d.select(
        "doc_id",
        F.expr(
            f"array_distinct(transform("
            f" sequence(1, greatest(length(text)-{_NGRAM_N - 1}, 1)),"
            f" i -> substring(text, i, {_NGRAM_N})))"
        ).alias("g"),
        # released harness-side via clearCache (r8 ADVICE convention)
    ).cache()
    ex = ng.select("doc_id", F.explode("g").alias("gram"))
    # SQL-string expressions for the 48-hash aggregate, band structs and
    # agreement sum (identical analyzed plan, ~10x fewer py4j round
    # trips at construction — see _minhash_band_frames)
    sigs = ex.groupBy("doc_id").agg(
        F.expr("min(xxhash64(0, gram)) AS m0"),
        *[
            F.expr(f"min(xxhash64({i}, gram)) AS m{i}")
            for i in range(1, n_hashes)
        ]
        # released harness-side via clearCache (r8 ADVICE convention)
    ).cache()
    band_arr = ", ".join(
        "named_struct("
        + ", ".join(
            f"'h{j}', m{_NG_ROWS * i + j}" for j in range(_NG_ROWS)
        )
        + ")"
        for i in range(_NG_BANDS)
    )
    bands = sigs.select(
        "doc_id",
        F.posexplode(F.expr(f"array({band_arr})")).alias("band", "sig"),
    )
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    sa = sigs.selectExpr(
        "doc_id AS doc_a", *[f"m{i} AS a{i}" for i in range(n_hashes)]
    )
    sb = sigs.selectExpr(
        "doc_id AS doc_b", *[f"m{i} AS b{i}" for i in range(n_hashes)]
    )
    agree = F.expr(
        " + ".join(f"CAST(a{i} = b{i} AS INT)" for i in range(n_hashes))
    )
    strong = (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(agree >= int(_NG_EST_T * n_hashes))
        .select("doc_a", "doc_b")
    )
    ga = ng.select(F.col("doc_id").alias("doc_a"), F.col("g").alias("g_a"))
    gb = ng.select(F.col("doc_id").alias("doc_b"), F.col("g").alias("g_b"))
    inter = F.size(F.array_intersect("g_a", "g_b")).cast("double")
    union = F.size("g_a") + F.size("g_b") - F.size(F.array_intersect("g_a", "g_b"))
    return (
        strong.join(ga, "doc_a")
        .join(gb, "doc_b")
        .withColumn("jaccard", inter / union)
        .filter(F.col("jaccard") >= _NGRAM_T)
        .select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))
    )


@register(
    "dedup_cluster",
    oracle=f"""
WITH RECURSIVE pairs AS ({_MINHASH_ORACLE.strip()}),
und AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION
  SELECT doc_b, doc_a FROM pairs
),
reach(a, b) AS (
  SELECT a, b FROM und
  UNION
  SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a
),
closure AS (
  SELECT a, b FROM reach
  UNION
  SELECT DISTINCT a, a FROM und
)
SELECT a AS doc_id, MIN(b) AS canonical_id, COUNT(DISTINCT b) AS cluster_size
FROM closure GROUP BY a
""",
)
def dedup_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate CLUSTERING: connected components over the
    dedup_minhash pair graph, assigning every near-dup doc its
    component's minimum doc_id as the canonical representative (the doc
    a pipeline keeps) plus the component size. This is the step after
    pair generation in a real training-data dedup: pairs alone
    double-count transitive duplicates (a~b, b~c must collapse to ONE
    keeper, not two).

    Spark shape: iterative min-label propagation to fixpoint — each
    round one join+groupBy (label[v] <- min over v and neighbors), the
    standard scalable CC recipe; rounds = component diameter, which for
    near-dup graphs is tiny (clone clusters are cliques-ish; here <= 3).
    The driver-side loop only checks a 1-row convergence count per
    round — the data never leaves the executors. Oracle: DuckDB
    recursive-CTE transitive closure over the same (brute-force exact)
    pair graph."""
    return _cluster_members(spark, sf_dir)


# The iterative CC labels are the shared intermediate of four
# registered keys (dedup_cluster, dedup_survivor_pick,
# docs_dedup_pipeline, docs_split_leakage_safe); a production pipeline
# computes labels ONCE and every downstream stage reads them.  The
# labels under the frame are localCheckpoint-ed, bounded by the near-dup
# vertex count.  The first execution per session pays the full loop.
@session_memo
def _cluster_members(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = dedup_minhash(spark, sf_dir).select("doc_a", "doc_b")
    # pairs are strictly doc_a < doc_b and already distinct, so the
    # reversed union is disjoint — no dedup shuffle needed on und
    und = pairs.unionByName(
        pairs.select(
            F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b")
        )
    )
    labels = _min_label_propagate(und)
    sizes = labels.groupBy("lbl").agg(F.count(F.lit(1)).alias("cluster_size"))
    return labels.join(sizes, "lbl").select(
        F.col("v").alias("doc_id"),
        F.col("lbl").alias("canonical_id"),
        "cluster_size",
    )


def _min_label_propagate(
    und: DataFrame, rounds: int = 4, verify: bool = False
) -> DataFrame:
    """Min-label propagation with POINTER JUMPING over an undirected
    edge frame (doc_a, doc_b).  Each round:

    * propagate: label[v] <- min(label[v], min over neighbors' labels)
      (one join+groupBy — extends the reach of the component minimum
      by one hop);
    * jump:      label[v] <- label[label[v]]
      (one self-join of the label mapping — COMPOSES the mapping with
      itself, doubling reach; the classic shortcutting step of
      scalable connected components).

    Reach recurrence x_r = 2*(x_{r-1} + 1): 2, 6, 14, 30 — four fixed
    rounds cover component diameter 30, strictly more than the former
    16-round convergence-checked loop guaranteed, in FOUR Spark jobs
    (one eager localCheckpoint per round) instead of ~2 jobs per round
    x up-to-16 rounds.  That matters because the near-dup label frame
    is tiny at bench scale (hundreds of vertices): the old loop's cost
    was pure per-job scheduler floor (the r4 verdict's #1 bench cost),
    not data.

    The per-round eager checkpoint is ALSO the lineage discipline
    (VERDICT r3 item 5) and — critically — stops plan blow-up: the
    jump self-join references the propagate subtree twice, so an
    unmaterialized multi-round composition duplicates the entire
    upstream DAG 2^rounds times (measured: 46 s at sf0.1 for a lazy
    3-round composition vs ~2 s checkpointed-per-round).

    Storage note: superseded per-round checkpoint blocks are released
    by Spark's ContextCleaner once the Python frame reference drops at
    reassignment (promptly, via CPython refcounting) — explicit
    DataFrame.unpersist() does not cover localCheckpoint blocks, so at
    most `rounds` tiny label frames (|near-dup vertices| rows each)
    await async cleanup per call."""
    # cache the adjacency: it feeds every round's propagate join and
    # would otherwise recompute the LSH pair generation each round
    adj = und.select(F.col("doc_a").alias("v"), F.col("doc_b").alias("u")).cache()
    labels = adj.select("v").distinct().withColumn("lbl", F.col("v"))
    for _ in range(rounds):
        neigh = (
            adj.join(labels.withColumnRenamed("v", "u"), "u")
            .groupBy("v")
            .agg(F.min("lbl").alias("nlbl"))
        )
        prop = labels.join(neigh, "v", "left").select(
            "v",
            F.least("lbl", F.coalesce("nlbl", F.col("lbl"))).alias("lbl"),
        )
        # pointer jump: compose the mapping with itself (lbl is always a
        # vertex id, so the inner re-keyed join is total)
        mapping = prop.select(
            F.col("v").alias("lbl"), F.col("lbl").alias("lbl2")
        )
        labels = (
            prop.join(mapping, "lbl")
            .select("v", F.col("lbl2").alias("lbl"))
            .localCheckpoint(eager=True)
        )
    if verify:
        # Convergence proof (r5 advice): the fixed-round schedule is
        # only correct for component diameter <= 30; past that,
        # wrongness would be SILENT (split labels).  One extra
        # propagate pass costs a single join+agg over the tiny label
        # frame and asserts no label can still decrease.
        still = (
            adj.join(labels.withColumnRenamed("v", "u"), "u")
            .groupBy("v")
            .agg(F.min("lbl").alias("nlbl"))
            .join(labels, "v")
            .filter(F.col("nlbl") < F.col("lbl"))
            .count()
        )
        if still:
            adj.unpersist()
            raise RuntimeError(
                f"_min_label_propagate: {still} labels still decreasing "
                f"after {rounds} rounds — a component exceeds the "
                f"diameter-30 bound; raise `rounds` (reach doubles per "
                f"round) or re-run with more."
            )
    adj.unpersist()  # final labels are materialized by the checkpoint
    return labels


@register(
    "text_lm_score",
    oracle="""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
),
freq AS (SELECT term, COUNT(*) AS tf FROM tok GROUP BY term),
n AS (SELECT COUNT(*) AS total FROM tok)
SELECT doc_id,
       COUNT(*) AS n_tokens,
       ROUND(AVG(-LN(CAST(tf AS DOUBLE) / total)), 6) AS avg_neg_logp,
       ROUND(AVG(-LN(CAST(tf AS DOUBLE) / total)), 6) < 4.0 AS keep
FROM tok JOIN freq USING (term) CROSS JOIN n
GROUP BY doc_id
""",
)
def text_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram language-model scoring — the perplexity-style quality
    filter of a training-data pipeline: fit token frequencies on the
    corpus itself, score each doc by its mean negative log-probability,
    and gate on a threshold (gibberish / rare-token-heavy docs score
    high and are dropped). The model side (term -> tf, corpus total) is
    vocabulary-bounded and broadcast; the scoring side is one explode +
    one grouped avg — at 100 TB the corpus is scanned twice (fit,
    score), never joined to itself. Scores rounded before the threshold
    so both engines gate identically."""
    d = table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
    freq = tok.groupBy("term").agg(F.count(F.lit(1)).alias("tf"))
    total = tok.agg(F.count(F.lit(1)).alias("total"))
    scored = (
        tok.join(F.broadcast(freq), "term")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(
                F.avg(-F.log(F.col("tf").cast("double") / F.col("total"))), 6
            ).alias("avg_neg_logp"),
        )
    )
    return scored.select(
        "doc_id",
        "n_tokens",
        "avg_neg_logp",
        (F.col("avg_neg_logp") < 4.0).alias("keep"),
    )


_CONTAIN_T = 0.9
#: Stop-shingle document-frequency cap for the containment posting
#: join: shingles appearing in more than this many documents are
#: boilerplate-grade and are dropped BEFORE the self-join, bounding the
#: join's Theta(sum df(s)^2) cost to df <= cap per shingle.  Measured
#: on the fixtures (duckdb df histogram, round 8): gate SFs never reach
#: it (max df 7/11/25 at sf0.01/0.001/0.1 — output identical to the
#:	uncapped form, n_capped_shingles = 0), while the sf1 replica corpus
#: (max df 250) sheds 96% of sum df^2 (283.7M -> 11.8M).
_CONTAIN_DF_CAP = 64


@register(
    "dedup_containment",
    oracle=f"""
WITH base AS (
  SELECT doc_id,
         list_distinct([array_to_string(toks[i:i+2], ' ')
                        FOR i IN range(1, len(toks) - 1)]) AS sh
  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
),
frag AS (
  SELECT doc_id + 2000000 AS doc_id,
         list_distinct([array_to_string(toks[i:i+2], ' ')
                        FOR i IN range(1, 5)]) AS sh
  FROM (SELECT doc_id, (string_split(text, ' '))[1:6] AS toks
        FROM documents WHERE doc_id % 10 = 0)
),
corpus AS (SELECT * FROM base UNION ALL SELECT * FROM frag),
post AS (SELECT doc_id, unnest(sh) AS s FROM corpus),
dfreq AS (SELECT s, COUNT(*) AS df FROM post GROUP BY s),
kept AS (
  SELECT doc_id, s FROM post JOIN dfreq USING (s)
  WHERE df <= {_CONTAIN_DF_CAP}
),
capped AS (
  SELECT COUNT(*) FILTER (WHERE df > {_CONTAIN_DF_CAP})
         AS n_capped_shingles
  FROM dfreq
),
sizes AS (SELECT doc_id, COUNT(*) AS n_shingles FROM kept GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id AS contained_id, b.doc_id AS container_id,
         COUNT(*) AS shared
  FROM kept a JOIN kept b USING (s)
  WHERE a.doc_id != b.doc_id
  GROUP BY 1, 2
)
SELECT contained_id, container_id,
       ROUND(CAST(shared AS DOUBLE) / n_shingles, 6) AS containment,
       n_capped_shingles
FROM pairs JOIN sizes ON sizes.doc_id = contained_id
CROSS JOIN capped
WHERE shared >= {_CONTAIN_T} * n_shingles
""",
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment dedup — sub-document / boilerplate
    detection: flag doc A as contained in doc B when >= {_CONTAIN_T} of
    A's shingles appear in B (|A.sh ∩ B.sh| / |A.sh|). Jaccard misses
    this case by construction: a quote or boilerplate fragment inside a
    much larger page has tiny symmetric similarity but containment ~1.
    Injected corpus: every 10th document's 6-token prefix re-enters as a
    fragment doc — the quoted-excerpt scenario.

    Plan shape is the INVERTED-INDEX join (new vs the banded-LSH keys):
    explode shingles to a posting list, DROP STOP-SHINGLES (df >
    {_CONTAIN_DF_CAP} documents — the standard production guard; see
    _CONTAIN_DF_CAP for the measured effect), self-join on the shingle,
    count shared shingles per ordered pair, divide by the contained
    side's KEPT-set size — containment is computed in the informative-
    shingle space on both numerator and denominator, so a true
    contained fragment still scores ~1 after capping.  The cap bounds
    the posting join's cost to Theta(vocab x cap^2) regardless of how
    skewed the df head grows at 100 TB, where an uncapped join is
    quadratic in the df of the most common boilerplate shingle.  The
    number of capped-out shingles is on the surface
    (``n_capped_shingles``, a corpus-level constant column) so the
    approximation is visible to the consumer, and the DuckDB oracle
    applies the identical cap — the twin stays hash-exact.  The df
    filter joins the posting list to the vocabulary-sized df frame on
    the shingle key, the same shuffle key the pair join needs next, so
    the cap adds no extra exchange of the big side.

    Two measured plan refinements (sf1, local[32], round 8): the token
    array is materialized as a column BEFORE the shingle lambda —
    ``slice(split(text), i, 3)`` inside ``transform`` re-splits the
    text once per position, O(tokens^2) per doc (29.7s -> 16.5s per
    shingling pass, outputs proven identical) — and the capped posting
    list is persisted, because FOUR consumers branch from it (df count,
    both join sides, set sizes) and each would otherwise re-run the
    shingling scan (sf1 wall 122s -> ~45s; at 100 TB the posting list
    is the inverted index a production pipeline materializes anyway).

    Cache lifetime contract (r8 ADVICE): the persisted posting list
    must outlive this function's lazy return, so it cannot unpersist
    here; single-session multi-key sweeps release it via
    ``spark.catalog.clearCache()`` after materializing each key
    (tools/verify_local.py), and one-shot sessions reclaim blocks at
    session stop / LRU eviction."""
    from pyspark import StorageLevel

    d = table(spark, sf_dir, "documents")
    base = d.select("doc_id", F.split("text", " ").alias("toks")).select(
        "doc_id",
        F.expr(
            "array_distinct(transform(sequence(1, size(toks) - 2),"
            " i -> concat_ws(' ', slice(toks, i, 3))))"
        ).alias("sh"),
    )
    frag = (
        d.filter(F.col("doc_id") % 10 == 0)
        .select(
            (F.col("doc_id") + 2000000).alias("doc_id"),
            F.slice(F.split("text", " "), 1, 6).alias("toks"),
        )
        .select(
            "doc_id",
            F.expr(
                "array_distinct(transform(sequence(1, 4),"
                " i -> concat_ws(' ', slice(toks, i, 3))))"
            ).alias("sh"),
        )
    )
    corpus = base.unionByName(frag)
    post = corpus.select("doc_id", F.explode("sh").alias("s")).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    dfreq = post.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
    kept = post.join(
        dfreq.filter(F.col("df") <= _CONTAIN_DF_CAP).select("s"), "s"
    )
    n_capped = dfreq.agg(
        F.count_if(F.col("df") > _CONTAIN_DF_CAP).alias("n_capped_shingles")
    )
    sizes = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_shingles")
    )
    a = kept.select(F.col("doc_id").alias("contained_id"), "s")
    b = kept.select(F.col("doc_id").alias("container_id"), "s")
    pairs = (
        a.join(b, "s")
        .filter(F.col("contained_id") != F.col("container_id"))
        .groupBy("contained_id", "container_id")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    return (
        pairs.join(
            sizes.withColumnRenamed("doc_id", "contained_id"), "contained_id"
        )
        .filter(F.col("shared") >= _CONTAIN_T * F.col("n_shingles"))
        .select(
            "contained_id",
            "container_id",
            F.round(F.col("shared").cast("double") / F.col("n_shingles"), 6).alias(
                "containment"
            ),
        )
        .crossJoin(F.broadcast(n_capped))
    )


@register(
    "dedup_incremental",
    oracle=f"""
WITH sh AS (
  SELECT doc_id,
         list_distinct([array_to_string(toks[i:i+2], ' ')
                        FOR i IN range(1, len(toks) - 1)]) AS shingles
  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
)
SELECT n.doc_id AS new_doc, c.doc_id AS corpus_doc,
       ROUND(CAST(len(list_intersect(n.shingles, c.shingles)) AS DOUBLE)
             / (len(n.shingles) + len(c.shingles)
                - len(list_intersect(n.shingles, c.shingles))), 6) AS jaccard
FROM sh n JOIN sh c ON n.doc_id % 5 = 0 AND c.doc_id % 5 <> 0
WHERE CAST(len(list_intersect(n.shingles, c.shingles)) AS DOUBLE)
      / (len(n.shingles) + len(c.shingles)
         - len(list_intersect(n.shingles, c.shingles))) >= {_JACCARD_T}
""",
)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL near-dup dedup: screen a NEW crawl batch (doc_id%5=0
    here) against the EXISTING corpus without ever pairing the corpus
    with itself — the shape a production pipeline actually runs every
    ingest cycle.  Same banded MinHash machinery as dedup_minhash, but
    the bucket join is ASYMMETRIC: new-batch bands probe the corpus
    band index, so candidate volume scales with |new| x collision rate,
    not |corpus|^2, and in production the corpus side's signatures are
    a PERSISTED index (computed once per doc ever, merged per cycle) —
    the incremental cost of a cycle is hashing the new batch plus the
    probe.  Candidates still exact-verify, so engine hashing never
    reaches the output and the brute-force asymmetric join is a true
    oracle (quadratic: gate-scale only, like dedup_minhash's)."""
    # cached for its multiple consumers; released harness-side via
    # clearCache after each key (the r8 ADVICE lifetime convention)
    sh = _shingled(spark, sf_dir).cache()
    _sigs, bands = _minhash_band_frames(sh)
    new_bands = bands.filter(F.col("doc_id") % 5 == 0).alias("n")
    corpus_bands = bands.filter(F.col("doc_id") % 5 != 0).alias("c")
    cand = (
        new_bands.join(
            corpus_bands,
            (F.col("n.band") == F.col("c.band"))
            & (F.col("n.sig") == F.col("c.sig")),
        )
        .select(
            F.col("n.doc_id").alias("new_doc"),
            F.col("c.doc_id").alias("corpus_doc"),
        )
        .distinct()
    )
    sn = sh.select(F.col("doc_id").alias("new_doc"), F.col("shingles").alias("sh_n"))
    sc = sh.select(
        F.col("doc_id").alias("corpus_doc"), F.col("shingles").alias("sh_c")
    )
    inter = F.size(F.array_intersect("sh_n", "sh_c")).cast("double")
    union = F.size("sh_n") + F.size("sh_c") - F.size(
        F.array_intersect("sh_n", "sh_c")
    )
    return (
        cand.join(sn, "new_doc")
        .join(sc, "corpus_doc")
        .withColumn("jaccard", inter / union)
        .filter(F.col("jaccard") >= _JACCARD_T)
        .select("new_doc", "corpus_doc", F.round("jaccard", 6).alias("jaccard"))
    )


# Accent-fold map shared verbatim by the Spark query and the DuckDB
# oracle: translate() is codepoint-wise in both engines, so the two
# strings must stay the same length in CODEPOINTS.
_ACCENT_FROM = "ÀÁÂÃÄÅàáâãäåÈÉÊËèéêëÌÍÎÏìíîïÒÓÔÕÖòóôõöÙÚÛÜùúûüÇçÑñ"
_ACCENT_TO = "AAAAAAaaaaaaEEEEeeeeIIIIiiiiOOOOOoooooUUUUuuuuCcNn"
assert len(_ACCENT_FROM) == len(_ACCENT_TO)


@register(
    "text_normalize",
    oracle=f"""
WITH folded AS (
  SELECT doc_id,
         trim(regexp_replace(
           regexp_replace(
             lower(translate(text, '{_ACCENT_FROM}', '{_ACCENT_TO}')),
             '[^a-z0-9 ]', ' ', 'g'),
           ' +', ' ', 'g')) AS norm_text
  FROM documents
)
SELECT doc_id, norm_text,
       CASE WHEN norm_text = '' THEN 0
            ELSE len(string_split(norm_text, ' ')) END AS n_tokens
FROM folded
""",
)
def text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus canonicalization — the step every dedup/quality pass runs
    first: accent folding (explicit codepoint map, identical in both
    engines), lowercase, non-alphanumeric -> space, whitespace collapse,
    trim, plus the post-normalization token count.

    Pure per-row expression pipeline: zero shuffle, whole-stage codegen,
    trivially map-parallel at any scale.  The accent map is a shared
    constant rather than a unicode-NFD pass because NFD/NFKC builtins
    differ across engines (and Spark has none) — for a production corpus
    the map extends to the full Latin-1/Latin-Extended block the same
    way.
    """
    d = table(spark, sf_dir, "documents")
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(
                F.lower(F.translate("text", _ACCENT_FROM, _ACCENT_TO)),
                "[^a-z0-9 ]",
                " ",
            ),
            " +",
            " ",
        )
    )
    return d.select("doc_id", norm.alias("norm_text")).withColumn(
        "n_tokens",
        F.when(F.col("norm_text") == "", 0)
        .otherwise(F.size(F.split("norm_text", " ")))
        .cast("bigint"),
    )


@register(
    "text_topn_ngrams",
    oracle="""
WITH toks AS (
  SELECT lang,
         string_split_regex(
           trim(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g')), ' +') AS t
  FROM documents
),
big AS (
  SELECT lang,
         unnest(list_transform(range(2, len(t) + 1),
                               i -> t[i-1] || ' ' || t[i])) AS bigram
  FROM toks WHERE len(t) >= 2
),
cnt AS (SELECT lang, bigram, COUNT(*) AS cnt FROM big GROUP BY lang, bigram)
SELECT lang, bigram, cnt FROM (
  SELECT lang, bigram, cnt,
         ROW_NUMBER() OVER (PARTITION BY lang
                            ORDER BY cnt DESC, bigram) AS rn
  FROM cnt
) WHERE rn <= 20
""",
)
def text_topn_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus n-gram statistics: top-20 token bigrams per language
    (count DESC, bigram ASC tiebreak) — the frequency table behind
    contamination checks, boilerplate discovery, and n-gram LM priors.

    Shape: tokenize -> in-row bigram array (higher-order transform, no
    join) -> explode -> map-combined groupBy(lang, bigram) -> per-lang
    top-k window over the ALREADY-AGGREGATED vocabulary rows.  The raw
    corpus is touched exactly once; the window input is bounded by
    vocabulary size, not corpus size.  Sub-2-token documents are
    filtered identically in both engines (sequence(2, size) would go
    descending — the short-doc trap from round 2's ADVICE).
    """
    d = table(spark, sf_dir, "documents")
    toks = F.split(
        F.trim(F.regexp_replace(F.lower("text"), "[^a-z0-9 ]", " ")), " +"
    )
    bigrams = F.expr(
        "transform(sequence(2, size(t)), i ->"
        " concat(element_at(t, i - 1), ' ', element_at(t, i)))"
    )
    w = Window.partitionBy("lang").orderBy(F.desc("cnt"), F.asc("bigram"))
    return (
        d.select("lang", toks.alias("t"))
        .filter(F.size("t") >= 2)
        .select("lang", F.explode(bigrams).alias("bigram"))
        .groupBy("lang", "bigram")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 20)
        .select("lang", "bigram", "cnt")
    )


@register(
    "dedup_survivor_pick",
    oracle=f"""
WITH RECURSIVE pairs AS ({_MINHASH_ORACLE.strip()}),
und AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION
  SELECT doc_b, doc_a FROM pairs
),
reach(a, b) AS (
  SELECT a, b FROM und
  UNION
  SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a
),
closure AS (
  SELECT a, b FROM reach
  UNION
  SELECT DISTINCT a, a FROM und
),
clusters AS (
  SELECT a AS doc_id, MIN(b) AS canonical_id FROM closure GROUP BY a
)
SELECT canonical_id, doc_id AS survivor_doc_id,
       n_chars AS survivor_n_chars,
       COUNT(*) OVER (PARTITION BY canonical_id) AS cluster_size
FROM clusters JOIN documents USING (doc_id)
QUALIFY ROW_NUMBER() OVER (PARTITION BY canonical_id
                           ORDER BY n_chars DESC, doc_id) = 1
""",
)
def dedup_survivor_pick(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivorship rule on top of near-dup clustering: per connected
    component, KEEP exactly one member — the longest document, doc_id
    as the tiebreak — and report it with the cluster size.  This is the
    step a production dedup actually ships (pairs and clusters are
    intermediates; the deliverable is the keep-list), and the rule is
    deliberately metadata-driven (n_chars) so the pick costs one
    broadcast-size join, not a re-scan of text.

    Shape: cluster labels from dedup_cluster's label propagation, one
    equi join onto document metadata, then a WindowGroupLimit-style
    rank-1 filter per cluster — the window runs over |cluster members|
    rows, a vanishing fraction of the corpus."""
    members = dedup_cluster(spark, sf_dir)
    meta = table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    j = members.join(meta, "doc_id")
    w = Window.partitionBy("canonical_id").orderBy(
        F.desc("n_chars"), F.asc("doc_id")
    )
    return (
        j.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "canonical_id",
            F.col("doc_id").alias("survivor_doc_id"),
            F.col("n_chars").alias("survivor_n_chars"),
            "cluster_size",
        )
    )


_ACC_HASHES = 16  # portable md5 minhashes for the accuracy estimate


@register(
    "dedup_minhash_accuracy",
    oracle=f"""
WITH sh AS (
  SELECT doc_id,
         list_distinct([array_to_string(toks[i:i+2], ' ')
                        FOR i IN range(1, len(toks) - 1)]) AS shingles
  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
),
ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
sig AS (
  SELECT doc_id,
         {", ".join(
             f"MIN(('0x' || substr(md5(CAST({i} AS VARCHAR) || ':' || s), 1, 8))::BIGINT) AS m{i}"
             for i in range(16)
         )}
  FROM ex GROUP BY doc_id
),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         ROUND(CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
               / (len(a.shingles) + len(b.shingles)
                  - len(list_intersect(a.shingles, b.shingles))), 6) AS jaccard
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
  WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
        / (len(a.shingles) + len(b.shingles)
           - len(list_intersect(a.shingles, b.shingles))) >= 0.5
)
SELECT p.doc_a, p.doc_b, p.jaccard,
       ROUND(({" + ".join(
           f"CAST(sa.m{i} = sb.m{i} AS INTEGER)" for i in range(16)
       )}) / 16.0, 6) AS jaccard_est,
       ROUND(ABS(p.jaccard - ({" + ".join(
           f"CAST(sa.m{i} = sb.m{i} AS INTEGER)" for i in range(16)
       )}) / 16.0), 6) AS abs_err
FROM pairs p
JOIN sig sa ON sa.doc_id = p.doc_a
JOIN sig sb ON sb.doc_id = p.doc_b
""",
)
def dedup_minhash_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash estimator accuracy audit — the dedup-family sibling of
    sim_ann_recall: for every true near-dup pair (exact 3-gram Jaccard
    >= 0.5), compare the sketch ESTIMATE (fraction of 16 agreeing
    portable minhashes; E[est] = J by the MinHash theorem) against the
    exact value.  A pipeline tunes band/row counts off exactly this
    error distribution; estimator drift after a tokenizer change shows
    up here before dedup quality degrades.

    Portability: the production plan (dedup_minhash) uses xxhash64,
    which DuckDB lacks — the audit uses the repo's portable md5-bucket
    hash for its 16 estimator hashes so BOTH engines compute
    bit-identical signatures (agreement counts are integers; the only
    doubles are est = k/16 and the error, exact in binary / rounded).
    Shape: the verified pair set is materialized FIRST
    (localCheckpoint — it is pair-count-sized, and its own pipeline
    already ran once to produce it), then the 16-md5 signature build
    runs only over the pair ENDPOINT docs via a broadcast semi-join on
    the shingle frame (r14: the estimator is consumed exclusively
    through inner joins on doc_a/doc_b, so signatures of non-endpoint
    docs were 16 md5+conv evaluations per shingle thrown away — at
    sf0.1 that full-corpus pass was ~5x the whole remaining key; guide
    §1.2 "don't compute things you throw away", §3.2 semi-join
    prefilter).  At 100 TB the same shape holds: near-dup endpoints are
    a vanishing fraction of the corpus, and the audit's cost tracks the
    pair list, not the corpus."""
    # exact-verified J>=0.5 pairs, materialized once (pair-count-sized)
    pairs = dedup_minhash(spark, sf_dir).localCheckpoint(eager=True)
    endpoints = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .unionByName(pairs.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    sh = _shingled(spark, sf_dir).join(
        F.broadcast(endpoints), "doc_id", "semi"
    )
    ex = sh.select("doc_id", F.explode("shingles").alias("s"))
    # SQL-string expressions for the 16-hash aggregate and agreement sum
    # (identical analyzed plan, fewer py4j construction round trips —
    # see _minhash_band_frames)
    sig = ex.groupBy("doc_id").agg(
        *[
            F.expr(
                f"min(CAST(conv(substring(md5(concat('{i}:', s)), 1, 8),"
                f" 16, 10) AS BIGINT)) AS m{i}"
            )
            for i in range(_ACC_HASHES)
        ]
    )
    sa = sig.selectExpr(
        "doc_id AS doc_a", *[f"m{i} AS a{i}" for i in range(_ACC_HASHES)]
    )
    sb = sig.selectExpr(
        "doc_id AS doc_b", *[f"m{i} AS b{i}" for i in range(_ACC_HASHES)]
    )
    # fixed order, integer adds
    agree = F.expr(
        " + ".join(f"CAST(a{i} = b{i} AS INT)" for i in range(_ACC_HASHES))
    )
    est = agree / F.lit(float(_ACC_HASHES))
    # explicit broadcasts: the checkpointed pair frame carries no size
    # stats, so without the hint the planner falls back to SortMergeJoin
    # even though both signature sides are endpoint-count-sized
    return (
        pairs.join(F.broadcast(sa), "doc_a")
        .join(F.broadcast(sb), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "jaccard",
            F.round(est, 6).alias("jaccard_est"),
            F.round(F.abs(F.col("jaccard") - est), 6).alias("abs_err"),
        )
    )


@register(
    "dedup_source_matrix",
    oracle=f"""
WITH pairs AS ({_MINHASH_ORACLE.strip()}),
lab AS (
  SELECT p.doc_a, p.doc_b, da.source AS sa, db.source AS sb
  FROM pairs p
  JOIN documents da ON p.doc_a = da.doc_id
  JOIN documents db ON p.doc_b = db.doc_id
)
SELECT LEAST(sa, sb) AS source_a,
       GREATEST(sa, sb) AS source_b,
       COUNT(*) AS n_pairs,
       CAST(LEAST(sa, sb) != GREATEST(sa, sb) AS INT) AS is_cross_source
FROM lab
GROUP BY LEAST(sa, sb), GREATEST(sa, sb)
""",
)
def dedup_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplication matrix: the audited near-dup pair set
    attributed to (source, source) cells — WHO copies WHOM.  A heavy
    off-diagonal cell means two ingestion sources ship the same
    content (mirror sites, syndication, a crawler configured twice)
    and one of them should be dropped at the SOURCE level, which is
    cheaper than deduping their union forever; the diagonal reads
    within-source duplication.  Curation acts on this matrix before
    any per-document dedup runs.

    Shape: the pair set comes from the audited banded-LSH plan (its
    cost); attribution is two broadcast-friendly doc_id equi joins to
    the documents metadata; the matrix is bounded by |sources|².
    Unordered pair normalization (LEAST/GREATEST on source names) keeps
    the cell key deterministic in both engines."""
    pairs = dedup_minhash(spark, sf_dir).select("doc_a", "doc_b")
    src = table(spark, sf_dir, "documents").select("doc_id", "source")
    a = src.select(F.col("doc_id").alias("doc_a"), F.col("source").alias("sa"))
    b = src.select(F.col("doc_id").alias("doc_b"), F.col("source").alias("sb"))
    lab = pairs.join(a, "doc_a").join(b, "doc_b")
    return (
        lab.groupBy(
            F.least("sa", "sb").alias("source_a"),
            F.greatest("sa", "sb").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .withColumn(
            "is_cross_source",
            (F.col("source_a") != F.col("source_b")).cast("int"),
        )
    )


@register(
    "text_entropy_rate",
    oracle="""
WITH t AS (
  SELECT lang, string_split(text, ' ') AS toks FROM documents
), bg AS (
  SELECT lang,
         unnest([toks[i] || ' ' || toks[i + 1]
                 FOR i IN range(1, len(toks))]) AS bigram
  FROM t
), cbg AS (
  SELECT lang, bigram, COUNT(*) AS c FROM bg GROUP BY lang, bigram
), cfirst AS (
  SELECT lang, split_part(bigram, ' ', 1) AS w1,
         CAST(SUM(c) AS BIGINT) AS cf
  FROM cbg GROUP BY lang, split_part(bigram, ' ', 1)
), terms AS (
  SELECT cbg.lang, cbg.c,
         CAST(FLOOR(cbg.c * ln(CAST(cf AS DOUBLE) / CAST(cbg.c AS DOUBLE))
                    * 1000000) AS BIGINT) AS term_e6
  FROM cbg JOIN cfirst
    ON cbg.lang = cfirst.lang AND split_part(cbg.bigram, ' ', 1) = cfirst.w1
)
SELECT lang,
       CAST(SUM(c) AS BIGINT) AS n_bigrams,
       CAST(SUM(term_e6) // SUM(c) AS BIGINT) AS entropy_rate_e6
FROM terms GROUP BY lang
""",
)
def text_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language bigram conditional entropy rate H(next|current) —
    the corpus compressibility / predictability statistic (a
    language-model prior in one number: low entropy rate = repetitive,
    templated text; text_entropy reads within-DOC diversity, this reads
    the corpus-level transition structure that boilerplate and looped
    generation collapse).

    Determinism beyond the text_entropy precedent: each c·ln(cf/c)
    term is FLOOR-scaled to an exact integer (x1e6) BEFORE the global
    sum, so the cross-group summation is exact integer arithmetic with
    NO fold-order surface at all, and the final per-bigram rate is an
    integer floor division of those exact sums (e6 micro-units) — the
    only IEEE ops are the identical per-term ln/multiply.  Scale: two
    map-combined vocabulary-bounded aggregates + one equi join on the
    (lang, first-token) key; work is O(distinct bigrams), never
    corpus-squared."""
    d = table(spark, sf_dir, "documents")
    # toks materialized before the lambda (the _shingled / r8
    # dedup_containment discipline): slice(split(text), i, 2) inside
    # transform re-splits the text per position, O(tokens^2) per doc
    bg = d.select("lang", F.split("text", " ").alias("toks")).select(
        "lang",
        F.explode(
            F.expr(
                "transform(sequence(1, size(toks) - 1),"
                " i -> concat_ws(' ', slice(toks, i, 2)))"
            )
        ).alias("bigram"),
    )
    cbg = bg.groupBy("lang", "bigram").agg(F.count(F.lit(1)).alias("c"))
    cbg = cbg.withColumn("w1", F.split_part(F.col("bigram"), F.lit(" "), F.lit(1)))
    cfirst = cbg.groupBy(F.col("lang").alias("f_lang"), F.col("w1").alias("f_w1")).agg(
        F.sum("c").cast("bigint").alias("cf")
    )
    terms = cbg.join(
        cfirst,
        (F.col("lang") == F.col("f_lang")) & (F.col("w1") == F.col("f_w1")),
    ).select(
        "lang",
        "c",
        F.floor(
            F.col("c")
            * F.log(F.col("cf").cast("double") / F.col("c").cast("double"))
            * 1_000_000
        )
        .cast("bigint")
        .alias("term_e6"),
    )
    return terms.groupBy("lang").agg(
        F.sum("c").cast("bigint").alias("n_bigrams"),
        F.expr("CAST(sum(term_e6) DIV sum(c) AS BIGINT)").alias(
            "entropy_rate_e6"
        ),
    )


@register(
    "text_collocations_pmi",
    oracle="""
WITH toks AS (
  SELECT string_split_regex(
           trim(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g')), ' +') AS t
  FROM documents
),
uni AS (
  SELECT unnest(t) AS w FROM toks
),
ucnt AS (SELECT w, COUNT(*) AS c FROM uni GROUP BY w),
utot AS (SELECT SUM(c) AS n_tok FROM ucnt),
big AS (
  SELECT unnest(list_transform(range(2, len(t) + 1),
                               i -> t[i-1] || ' ' || t[i])) AS bigram
  FROM toks WHERE len(t) >= 2
),
bcnt AS (SELECT bigram, COUNT(*) AS cxy FROM big GROUP BY bigram),
btot AS (SELECT SUM(cxy) AS n_big FROM bcnt),
pmi AS (
  SELECT b.bigram, b.cxy, u1.c AS cx, u2.c AS cy,
         CAST(FLOOR(LN((b.cxy * 1.0 / t2.n_big)
                  * (t1.n_tok * 1.0 / u1.c)
                  * (t1.n_tok * 1.0 / u2.c)) * 1000000) AS BIGINT) AS pmi_e6
  FROM bcnt b
  JOIN ucnt u1 ON split_part(b.bigram, ' ', 1) = u1.w
  JOIN ucnt u2 ON split_part(b.bigram, ' ', 2) = u2.w
  CROSS JOIN utot t1 CROSS JOIN btot t2
  WHERE b.cxy >= 5
)
SELECT bigram, cxy, cx, cy, pmi_e6 FROM pmi
QUALIFY ROW_NUMBER() OVER (ORDER BY pmi_e6 DESC, bigram) <= 20
""",
)
def text_collocations_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining by pointwise mutual information: the top-20
    token bigrams whose observed co-occurrence most exceeds chance
    (PMI = ln(p(xy) / (p(x)p(y))), min support 5) — how a corpus
    pipeline discovers multi-word units ('new york', 'machine
    learning') for tokenizer merges, stopword-phrase lists, and
    boilerplate signatures.  Raw frequency (text_topn_ngrams) surfaces
    common pairs; PMI surfaces ASSOCIATED pairs.

    Shape: one corpus pass builds both the unigram and bigram count
    tables (vocabulary-sized from the first shuffle on); the PMI join
    is bigram-vocab x unigram-vocab on the split words — count tables,
    never raw text, cross the wire, and AQE picks hash joins sized to
    the vocab.  Totals ride a 1-row broadcast.  The final top-20 is a
    sort+limit (TakeOrderedAndProject — per-partition heaps, no global
    sort).  Determinism: counts are exact integers; the probability
    ratio is three IEEE divisions in fixed order, LN'd and rounded to
    6dp BEFORE ranking (the sim_* convention), tiebreak on bigram."""
    t = _tokenized(spark, sf_dir)
    ucnt = (
        t.select(F.explode("t").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    utot = ucnt.agg(F.sum("c").alias("n_tok"))
    bigrams = F.expr(
        "transform(sequence(2, size(t)), i ->"
        " concat(element_at(t, i - 1), ' ', element_at(t, i)))"
    )
    bcnt = (
        t.filter(F.size("t") >= 2)
        .select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("cxy"))
        .filter(F.col("cxy") >= 5)
    )
    btot = (
        t.filter(F.size("t") >= 2)
        .select((F.size("t") - 1).alias("nb"))
        .agg(F.sum("nb").alias("n_big"))
    )
    u1 = ucnt.select(F.col("w").alias("w1"), F.col("c").alias("cx"))
    u2 = ucnt.select(F.col("w").alias("w2"), F.col("c").alias("cy"))
    j = (
        bcnt.withColumn("w1", F.split_part(F.col("bigram"), F.lit(" "), F.lit(1)))
        .withColumn("w2", F.split_part(F.col("bigram"), F.lit(" "), F.lit(2)))
        .join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(utot))
        .crossJoin(F.broadcast(btot))
    )
    pmi = F.floor(
        F.log(
            (F.col("cxy") * 1.0 / F.col("n_big"))
            * (F.col("n_tok") * 1.0 / F.col("cx"))
            * (F.col("n_tok") * 1.0 / F.col("cy"))
        )
        * F.lit(1000000)
    )
    return (
        j.select("bigram", "cxy", "cx", "cy", pmi.alias("pmi_e6"))
        .orderBy(F.desc("pmi_e6"), F.asc("bigram"))
        .limit(20)
    )


# The regex tokenize is the expensive shared prefix of the BM25 / PMI
# pipelines, whose plans branch 3-5 ways off it (tf, dl, corpus stats /
# unigrams, bigrams, totals); without the cache every branch re-scans
# and re-tokenizes the corpus.  Production twin: the materialized
# token/posting-list table these keys' docstrings describe.  Cached,
# not localCheckpoint-ed: the frame is one narrow projection, so
# recompute-on-eviction is safe and lineage depth is constant.  Capped:
# a long-lived driver running many sf_dirs must not pin every
# tokenized corpus forever.
@session_memo(cap=4)
def _tokenized(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    toks = F.split(
        F.trim(F.regexp_replace(F.lower("text"), "[^a-z0-9 ]", " ")), " +"
    )
    # released by the harness's clearCache(); a memo hit re-pins it
    return d.select("doc_id", toks.alias("t")).cache()


# BM25 over the documents fixture: shared between text_bm25_search (the
# ranked-list key) and sim_hybrid_rrf (rank fusion with vector search).
# Query terms are fixed so results are deterministic and SQL-expressible.
_BM25_TERMS = ("data", "fast", "query")
_BM25_K1 = 1.2
_BM25_B = 0.75

_BM25_SCORES_SQL = f"""
WITH toks AS (
  SELECT doc_id,
         string_split_regex(
           trim(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g')), ' +') AS t
  FROM documents
),
dl AS (SELECT doc_id, len(t) AS dl FROM toks),
stats AS (SELECT COUNT(*) AS n_docs,
                 SUM(dl) * 1.0 / COUNT(*) AS avgdl FROM dl),
tf AS (
  SELECT doc_id, w, COUNT(*) AS tf
  FROM (SELECT doc_id, unnest(t) AS w FROM toks)
  WHERE w IN ('data', 'fast', 'query')
  GROUP BY doc_id, w
),
df AS (SELECT w, COUNT(*) AS df FROM tf GROUP BY w),
contrib AS (
  SELECT tf.doc_id, tf.w,
         CAST(FLOOR(LN((stats.n_docs - df.df + 0.5) / (df.df + 0.5) + 1)
               * tf.tf
               / (tf.tf + {_BM25_K1} * (1 - {_BM25_B}
                                        + {_BM25_B} * dl.dl / stats.avgdl))
               * 1000000) AS BIGINT) AS c
  FROM tf JOIN df USING (w) JOIN dl USING (doc_id) CROSS JOIN stats
)
SELECT doc_id,
       CAST(COALESCE(MAX(CASE WHEN w = 'data'  THEN c END), 0)
     + COALESCE(MAX(CASE WHEN w = 'fast'  THEN c END), 0)
     + COALESCE(MAX(CASE WHEN w = 'query' THEN c END), 0) AS BIGINT)
         AS score_e6
FROM contrib GROUP BY doc_id
"""


def _bm25_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, score_e6) for every document matching any fixed query
    term — Okapi BM25 with k1=1.2, b=0.75.  Per-term contributions are
    FLOOR-scaled to exact integer micro-units (x1e6) then added in
    fixed term order, so the total is exact integer arithmetic with no
    fold-order or float surface at all."""
    t = _tokenized(spark, sf_dir)
    dl = t.select("doc_id", F.size("t").alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("dl") * 1.0 / F.count(F.lit(1))).alias("avgdl"),
    )
    tf = (
        t.select("doc_id", F.explode("t").alias("w"))
        .filter(F.col("w").isin(*_BM25_TERMS))
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df = tf.groupBy("w").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log(
        (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1
    )
    denom = F.col("tf") + _BM25_K1 * (
        1 - _BM25_B + _BM25_B * F.col("dl") / F.col("avgdl")
    )
    contrib = tf.join(F.broadcast(df), "w").join(dl, "doc_id").crossJoin(
        F.broadcast(stats)
    ).select(
        "doc_id",
        "w",
        F.floor(idf * F.col("tf") / denom * F.lit(1000000))
        .cast("bigint")
        .alias("c"),
    )
    def term(w: str):
        return F.coalesce(
            F.max(F.when(F.col("w") == w, F.col("c"))), F.lit(0)
        )
    score = (term("data") + term("fast") + term("query")).cast("bigint")
    return contrib.groupBy("doc_id").agg(score.alias("score_e6"))


@register(
    "text_bm25_search",
    oracle=f"""
WITH scores AS ({_BM25_SCORES_SQL.strip()})
SELECT doc_id, score_e6 FROM scores
QUALIFY ROW_NUMBER() OVER (ORDER BY score_e6 DESC, doc_id) <= 10
""",
)
def text_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 full-text retrieval: the top-10 documents for a fixed
    3-term query — the lexical half of every RAG / retrieval stack and
    the ClickHouse/Elasticsearch-class scoring function re-expressed as
    three aggregate passes.  tf is per (doc, term), df and corpus
    stats (N, avgdl) are term- and corpus-level constants that ride
    1-row / 3-row broadcasts; per-term contributions are FLOOR-scaled
    to integer micro-units BEFORE the fixed-order sum so both engines
    rank identical exact-integer scores (the PQ-key convention for
    multi-term totals).

    Shape: the corpus is tokenized ONCE; everything after the
    (doc, term) tf groupBy is bounded by posting-list size (docs
    containing a query term), not corpus size.  The final top-10 is
    TakeOrderedAndProject over the scored posting lists.  At 100 TB
    the posting lists ARE the retrieval index — materialize the tf
    table partitioned by term and this query never touches raw text."""
    return (
        _bm25_scores(spark, sf_dir)
        .orderBy(F.desc("score_e6"), F.asc("doc_id"))
        .limit(10)
    )
