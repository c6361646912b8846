"""Document deduplication operators — fully JVM-side (zero Python UDFs).

- exact_dedup: md5-hash groupBy, keep min id per group (one shuffle).
- jaccard_pairs: exact word-set Jaccard over an inverted-index join — the
  classic explode → token-join → |A∩B| / (|A|+|B|-|A∩B|) plan. Scales as the
  sum of squared posting-list lengths; stop-token removal (max_df cap) bounds
  the hot lists.
- minhash_signatures / minhash_lsh_pairs: n-permutation MinHash with banding;
  candidate pairs join on (band, band-hash) buckets.
- simhash_signatures / simhash_dedup_pairs: 60-bit SimHash (majority bit vote)
  with pigeonhole chunk blocking derived from max_hamming.

Shared-dialect hashing (round-2 redesign): round 1 hashed tokens with a
per-byte Python FNV loop inside pandas UDFs — the one row-at-a-time kernel in
the repo. It is replaced by ``token -> md5 -> first 15 hex chars -> 60-bit
BIGINT`` which evaluates **bit-identically** in Spark SQL
(``CONV(SUBSTRING(MD5(t),1,15),16,10)``) and DuckDB
(``CAST('0x' || substr(md5(t),1,15) AS BIGINT)``). Every downstream step
(permutation min-hashing mod a 31-bit prime, bit votes, band md5) is pure
int64 arithmetic, so each query ships an exact SQL oracle — the
``*_oracle_sql`` builders below emit it from the same constants.

Reference parity: near-dup crown/label dedup semantics follow
batch_sam.py:741-765 (keep-best) and the corpus-dedup stage the pipeline
needs at 10^12-doc scale (SURVEY.md "LLM-data-pipeline operators").
"""

from __future__ import annotations

from functools import reduce

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

P31 = (1 << 31) - 1  # modulus for MinHash permutations (31-bit Mersenne prime)
SIMHASH_BITS = 60  # md5-derived hash width that fits BIGINT in both dialects

_TOKS_DUCK = (
    "SELECT DISTINCT doc_id, t.tok AS token\n"
    "  FROM __docs__, UNNEST(string_split_regex(lower(text), '\\s+')) AS t(tok)\n"
    "  WHERE t.tok <> ''"
)


def token_hash60(col: Column) -> Column:
    """First 60 bits of md5(token) as a non-negative BIGINT.

    Shared dialect: this Spark expression equals DuckDB's
    ``CAST('0x' || substr(md5(t),1,15) AS BIGINT)`` bit-for-bit.
    """
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def _hash60_duck(col: str) -> str:
    return f"CAST('0x' || substr(md5({col}), 1, 15) AS BIGINT)"


def tokens_df(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Distinct (id, token) pairs, whitespace tokenization, lowercased."""
    return (
        docs.select(
            F.col(id_col),
            F.explode(F.split(F.lower(F.col(text_col)), r"\s+")).alias("token"),
        )
        .where(F.col("token") != "")
        .distinct()
    )


def shingles_df(
    docs: DataFrame, n: int = 4, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Distinct (id, shingle) pairs: overlapping character n-grams of the
    lowercased text — pure Catalyst (sequence + transform + explode), no
    Python. Texts shorter than n yield no shingles."""
    grams = F.expr(
        f"transform(sequence(1, greatest(length(lower({text_col})) - {n - 1}, 0)), "
        f"i -> substr(lower({text_col}), i, {n}))"
    )
    return (
        docs.select(F.col(id_col), F.explode(grams).alias("shingle"))
        .where(F.length("shingle") == n)
        .distinct()
    )


def _set_jaccard_pairs(
    elems: DataFrame, elem_col: str, threshold: float, id_col: str, max_df: int | None
) -> DataFrame:
    """Pairs (id_a < id_b, jaccard) with set Jaccard >= threshold over the
    distinct (id, element) rows `elems` — the inverted-index plan: element
    posting lists drive a self-join on the element, |A∩B| is a count per
    pair, |A| and |B| come from one per-id count. max_df drops elements in
    more than max_df ids first, and the sizes are taken after that filter
    (the SQL oracles mirror this)."""
    if max_df is not None:
        hot = elems.groupBy(elem_col).count().where(F.col("count") > max_df).select(elem_col)
        elems = elems.join(F.broadcast(hot), elem_col, "left_anti")
    # r6: persist — sizes + both inverted-index join sides otherwise re-run
    # the tokenize/shingle + distinct shuffle three times (no cross-join
    # exchange reuse; see plans/r06/jaccard_pairs_before.txt); released by
    # the session-level cache sweep, like other operators
    elems = elems.persist()
    sizes = elems.groupBy(id_col).agg(F.count("*").alias("__sz"))
    a = elems.select(F.col(id_col).alias("id_a"), elem_col)
    b = elems.select(F.col(id_col).alias("id_b"), elem_col)
    inter = (
        a.join(b, elem_col)
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("__inter"))
    )
    out = (
        inter.join(sizes.withColumnRenamed(id_col, "id_a").withColumnRenamed("__sz", "__sa"), "id_a")
        .join(sizes.withColumnRenamed(id_col, "id_b").withColumnRenamed("__sz", "__sb"), "id_b")
        .withColumn(
            "jaccard",
            F.col("__inter") / (F.col("__sa") + F.col("__sb") - F.col("__inter")),
        )
        .where(F.col("jaccard") >= threshold)
    )
    return out.select("id_a", "id_b", "jaccard")


def ngram_jaccard_pairs(
    docs: DataFrame,
    n: int = 4,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_df: int | None = None,
) -> DataFrame:
    """Pairs (id_a < id_b, jaccard) with character-n-gram-set Jaccard >=
    threshold — the shingle-level near-dup detector (robust to tokenization
    differences, the standard n-gram variant of jaccard_pairs). Same
    inverted-index plan over shingles; max_df caps stop-shingles, Jaccard
    computed over the post-filter shingle universe (mirrored by the SQL
    oracle)."""
    return _set_jaccard_pairs(
        shingles_df(docs, n, id_col, text_col), "shingle", threshold, id_col, max_df
    )


def exact_dedup(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Groups of byte-identical texts: (text_hash, n_docs, keeper_id)."""
    return (
        docs.select(F.col(id_col), F.md5(F.col(text_col)).alias("text_hash"))
        .groupBy("text_hash")
        .agg(F.count("*").alias("n_docs"), F.min(id_col).alias("keeper_id"))
    )


def jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_df: int | None = None,
) -> DataFrame:
    """Pairs (id_a < id_b, jaccard) with word-set Jaccard >= threshold.

    max_df: drop tokens appearing in more than max_df docs (stop-token cap) —
    the standard trick that keeps the inverted-index self-join near-linear.
    Jaccard is then computed over the REDUCED token universe (sizes and
    intersections both post-filter), which is the semantics the oracle in
    __spark_entry__ mirrors.
    """
    return _set_jaccard_pairs(tokens_df(docs, id_col, text_col), "token", threshold, id_col, max_df)


def _perm_params(n_perm: int) -> tuple[np.ndarray, np.ndarray]:
    """Deterministic (a, b) for h_i(x) = (a_i * x + b_i) mod P31.

    a, b < 2^31 and x < 2^31, so a*x + b < 2^62 — exact in int64 in BOTH
    engines (no wraparound, no HUGEINT needed)."""
    rng = np.random.default_rng(42)
    a = rng.integers(1, P31 - 1, n_perm, dtype=np.int64)
    b = rng.integers(0, P31 - 1, n_perm, dtype=np.int64)
    return a, b


def _minhash_agg(
    docs: DataFrame, n_perm: int, id_col: str, text_col: str
) -> DataFrame:
    """(id, __m0..__m{n-1}) min-hash columns: one shuffle, all JVM codegen."""
    a, b = _perm_params(n_perm)
    toks = tokens_df(docs, id_col, text_col).select(
        id_col, (token_hash60(F.col("token")) % F.lit(P31)).alias("__h")
    )
    aggs = [
        F.min((F.lit(int(a[i])) * F.col("__h") + F.lit(int(b[i]))) % F.lit(P31)).alias(
            f"__m{i}"
        )
        for i in range(n_perm)
    ]
    return toks.groupBy(id_col).agg(*aggs)


def minhash_signatures(
    docs: DataFrame, n_perm: int = 64, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, signature: array<long>) — docs with zero tokens are absent."""
    sig = _minhash_agg(docs, n_perm, id_col, text_col)
    return sig.select(
        id_col, F.array(*[F.col(f"__m{i}") for i in range(n_perm)]).alias("signature")
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    n_perm: int = 64,
    bands: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Candidate near-dup pairs via banded LSH on MinHash signatures.

    rows_per_band = n_perm // bands; a pair is a candidate iff some band's
    sub-signature matches exactly — the shuffle key is (band_idx, band_hash),
    so collisions drive the join, never the cross product. The signature is an
    aggregate output (not a UDF), so band extraction re-reads agg columns
    instead of re-running any kernel — no checkpoint needed."""
    rows = n_perm // bands
    sig = _minhash_agg(docs, n_perm, id_col, text_col)
    band_exprs = [
        F.md5(F.concat_ws(",", *[F.col(f"__m{bi * rows + j}") for j in range(rows)]))
        for bi in range(bands)
    ]
    banded = sig.select(
        F.col(id_col),
        F.posexplode(F.array(*band_exprs)).alias("band_idx", "band_hash"),
    ).persist()
    # r6: persist — the self-join's two sides each re-ran the whole signature
    # pipeline (tokenize, distinct, 64-min agg, band md5) from the scan; the
    # r6 before-plan shows the full subtree duplicated (one side as the
    # broadcast build). One computation now feeds both sides.
    a = banded.select(F.col(id_col).alias("id_a"), "band_idx", "band_hash")
    b = banded.select(F.col(id_col).alias("id_b"), "band_idx", "band_hash")
    return (
        a.join(b, ["band_idx", "band_hash"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def minhash_lsh_pairs_oracle_sql(
    docs_sql: str = "SELECT doc_id, text FROM documents",
    n_perm: int = 64,
    bands: int = 16,
) -> str:
    """DuckDB twin of minhash_lsh_pairs — same constants, same arithmetic."""
    a, b = _perm_params(n_perm)
    rows = n_perm // bands
    mins = ",\n       ".join(
        f"MIN(({int(a[i])} * h + {int(b[i])}) % {P31}) AS m{i}" for i in range(n_perm)
    )
    band_selects = "\nUNION ALL\n".join(
        f"SELECT doc_id, {bi} AS band_idx, md5(concat_ws(','"
        + "".join(f", m{bi * rows + j}" for j in range(rows))
        + ")) AS band_hash FROM sig"
        for bi in range(bands)
    )
    return f"""
WITH __docs__ AS ({docs_sql}),
toks AS ({_TOKS_DUCK}),
hs AS (SELECT doc_id, {_hash60_duck('token')} % {P31} AS h FROM toks),
sig AS (SELECT doc_id, {mins} FROM hs GROUP BY doc_id),
bands AS ({band_selects})
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
FROM bands a JOIN bands b
  ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
"""


def simhash_signatures(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, simhash) — 60-bit SimHash by majority bit vote over token hashes.

    All JVM: per-bit vote sums are 60 aggregate expressions over the exploded
    token stream (map-side partial aggregation keeps the shuffle at one 60-long
    row per doc per mapper), then the hash assembles as Σ 2^i·[vote_i > 0].
    60 bits keeps every intermediate positive int64 in both dialects."""
    toks = tokens_df(docs, id_col, text_col).select(
        id_col, token_hash60(F.col("token")).alias("__h")
    )
    votes = toks.groupBy(id_col).agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("__h"), i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"__v{i}")
            for i in range(SIMHASH_BITS)
        ]
    )
    sim = reduce(
        lambda x, y: x + y,
        [
            F.when(F.col(f"__v{i}") > 0, F.lit(1 << i)).otherwise(F.lit(0))
            for i in range(SIMHASH_BITS)
        ],
    )
    return votes.select(id_col, sim.cast("long").alias("simhash"))


def _simhash_chunks(max_hamming: int) -> list[tuple[int, int]]:
    """(offset, width) chunk layout: max_hamming+1 chunks over SIMHASH_BITS.

    Pigeonhole: a pair differing in <= max_hamming bits leaves at least one of
    the max_hamming+1 chunks untouched — the recall guarantee round 1 violated
    by fixing 4 chunks regardless of max_hamming (VERDICT.md "What's wrong" 1).
    """
    n_chunks = max_hamming + 1
    if n_chunks > SIMHASH_BITS:
        raise ValueError(f"max_hamming {max_hamming} needs > {SIMHASH_BITS} chunks")
    base, rem = divmod(SIMHASH_BITS, n_chunks)
    layout = []
    off = 0
    for i in range(n_chunks):
        w = base + (1 if i < rem else 0)
        layout.append((off, w))
        off += w
    return layout


def simhash_dedup_pairs(
    docs: DataFrame, max_hamming: int = 3, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Near-dup pairs with SimHash Hamming distance <= max_hamming — EXACT
    recall: blocked on max_hamming+1 chunks (pigeonhole), refined by
    bit_count(xor) JVM-side. Output: (id_a, id_b, hamming:int)."""
    layout = _simhash_chunks(max_hamming)
    sh = simhash_signatures(docs, id_col, text_col)
    chunk_exprs = [
        F.shiftright(F.col("simhash"), off).bitwiseAND(F.lit((1 << w) - 1))
        for off, w in layout
    ]
    chunks = sh.select(
        id_col,
        "simhash",
        F.posexplode(F.array(*chunk_exprs)).alias("chunk_idx", "chunk"),
    ).persist()
    # r6: persist — both self-join sides otherwise recompute the 60-bit-vote
    # signature aggregation from the scan (same duplication as minhash)
    a = chunks.select(F.col(id_col).alias("id_a"), F.col("simhash").alias("sh_a"), "chunk_idx", "chunk")
    b = chunks.select(F.col(id_col).alias("id_b"), F.col("simhash").alias("sh_b"), "chunk_idx", "chunk")
    pairs = (
        a.join(b, ["chunk_idx", "chunk"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sh_a", "sh_b")
        .distinct()
        .withColumn("hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))).cast("int"))
        .where(F.col("hamming") <= max_hamming)
    )
    return pairs.select("id_a", "id_b", "hamming")


def simhash_signature_duck_cte(docs_sql: str = "SELECT doc_id, text FROM documents") -> str:
    """DuckDB CTE chain ending in ``sig(doc_id, s)`` — the SimHash twin."""
    votes = ",\n       ".join(
        f"SUM(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS v{i}"
        for i in range(SIMHASH_BITS)
    )
    assemble = " + ".join(
        f"(CASE WHEN v{i} > 0 THEN {1 << i} ELSE 0 END)" for i in range(SIMHASH_BITS)
    )
    return f"""
WITH __docs__ AS ({docs_sql}),
toks AS ({_TOKS_DUCK}),
hs AS (SELECT doc_id, {_hash60_duck('token')} AS h FROM toks),
votes AS (SELECT doc_id, {votes} FROM hs GROUP BY doc_id),
sig AS (SELECT doc_id, CAST({assemble} AS BIGINT) AS s FROM votes)
"""


def simhash_pairs_oracle_sql(
    docs_sql: str = "SELECT doc_id, text FROM documents", max_hamming: int = 3
) -> str:
    """Brute-force DuckDB twin: EVERY pair with hamming <= max_hamming — so a
    green oracle row also certifies the engine's pigeonhole blocking recall."""
    return simhash_signature_duck_cte(docs_sql) + f"""
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.s, b.s)) AS INT) AS hamming
FROM sig a JOIN sig b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.s, b.s)) <= {max_hamming}
"""
