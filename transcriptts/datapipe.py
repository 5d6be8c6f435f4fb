"""Training-data pipeline operators over document/embedding tables.

Everything here is built from JVM-side `pyspark.sql.functions` expressions,
so the hot path stays inside whole-stage codegen, with one exception: IVF
cell assignment (`ann_ivf_topk`) is an Arrow-batched numpy matmul
`pandas_udf`, since a per-batch Python call is not the cost there.

- text analysis: tokenization (whitespace + BPE-ish regex), quality scoring,
  n-gram language ID (stopword/charset heuristic), rolling-hash fingerprint;
- dedup: exact (hash groupBy), n-gram Jaccard (shingle self-join), MinHash +
  LSH banding (signature = array expressions; bands → bucket join), SimHash
  (per-bit vote aggregation), embedding-cosine near-dup;
- similarity search: brute-force cosine top-k (the exactness baseline), a
  random-hyperplane LSH-bucketed variant and IVF-Flat (the scale paths:
  candidates only join within matching buckets or probed cells).

One hash family: md5 hex digests, which DuckDB reproduces character for
character (the oracle queries). MinHash takes the LEXICOGRAPHIC min of
salted md5 strings, a valid uniform min-hash family; SimHash reads its bits
from the md5 hex digits.

Scale notes: the shingle self-join keys on the shingle hash, so common
shingles create skew — `jaccard_pairs` filters shingles by document frequency
(stop-shingle cap) before the join; LSH banding bounds candidate pairs by
bucket, which is the point of MinHash at 10^9 docs — the exact O(n^2) pair
join never happens.
"""

from __future__ import annotations

import pandas as pd  # noqa: F401 — resolves pandas_udf type hints under PEP 563

import logging
import threading

from pyspark.sql import Column, DataFrame, Observation, Window
from pyspark.sql import functions as F

_log = logging.getLogger(__name__)

# --- tokenization / text stats ------------------------------------------------

_BPE_ISH_PATTERN = r"[a-zA-Z]+|[0-9]|[^a-zA-Z0-9\s]"
_PUNCT_PATTERN = r"[^\w\s]"

STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "it", "for", "with"],
    "de": ["der", "die", "und", "das", "ist", "von", "mit", "den", "nicht", "ein"],
    "fr": ["le", "la", "les", "et", "des", "est", "dans", "que", "une", "pour"],
    "es": ["el", "la", "los", "las", "que", "de", "en", "es", "por", "una"],
}


def ws_tokens(col: str | Column = "text") -> Column:
    """Whitespace tokenization; blank → empty array."""
    c = F.col(col) if isinstance(col, str) else col
    t = F.trim(F.coalesce(c, F.lit("")))
    return F.when(t == "", F.array().cast("array<string>")).otherwise(F.split(t, r"\s+"))


def bpe_ish_tokens(col: str | Column = "text") -> Column:
    """BPE-ish regex tokens: letter runs, single digits, single punctuation."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_extract_all(F.coalesce(c, F.lit("")), F.lit(_BPE_ISH_PATTERN), 0)


def with_text_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """token_count (ws), bpe_token_count, char_count, punct_ratio,
    alpha_ratio, mean_token_len — one projection, no shuffle."""
    t = F.coalesce(F.col(text_col), F.lit(""))
    toks = ws_tokens(text_col)
    n_punct = F.length(t) - F.length(F.regexp_replace(t, _PUNCT_PATTERN, ""))
    n_alpha = F.length(F.regexp_replace(t, r"[^a-zA-Z]", ""))
    n_chars = F.length(t)
    return (
        docs.withColumn("token_count", F.size(toks))
        .withColumn("bpe_token_count", F.size(bpe_ish_tokens(text_col)))
        .withColumn("char_count", n_chars)
        .withColumn("punct_ratio", F.when(n_chars > 0, n_punct / n_chars).otherwise(F.lit(0.0)))
        .withColumn("alpha_ratio", F.when(n_chars > 0, n_alpha / n_chars).otherwise(F.lit(0.0)))
        .withColumn(
            "mean_token_len",
            F.when(F.size(toks) > 0, (F.length(F.regexp_replace(t, r"\s+", "")) / F.size(toks))).otherwise(F.lit(0.0)),
        )
    )


def with_quality_score(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic [0,1] quality score: favors mid-length docs with moderate
    punctuation, high alpha ratio, and some English-stopword coverage."""
    d = with_text_stats(docs, text_col)
    toks = ws_tokens(text_col)
    sw = F.array([F.lit(w) for w in STOPWORDS["en"]])
    stop_hits = F.size(F.array_intersect(F.transform(toks, lambda x: F.lower(x)), sw))
    stop_ratio = F.when(F.size(toks) > 0, stop_hits / F.size(toks)).otherwise(F.lit(0.0))
    length_score = F.least(F.col("token_count") / F.lit(50.0), F.lit(1.0))
    punct_score = F.lit(1.0) - F.least(F.col("punct_ratio") * 4, F.lit(1.0))
    return d.withColumn("stopword_ratio", stop_ratio).withColumn(
        "quality_score",
        (0.35 * length_score + 0.25 * F.col("alpha_ratio") + 0.2 * punct_score + 0.2 * F.least(stop_ratio * 5, F.lit(1.0))).cast("double"),
    )


def with_lang_id(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic language ID: CJK char ratio → zh; else argmax stopword hits
    over per-language lists; no hits → 'en' fallback. Pure expressions."""
    t = F.coalesce(F.col(text_col), F.lit(""))
    cjk = F.length(F.regexp_replace(t, r"[^一-鿿]", ""))
    toks = F.transform(ws_tokens(text_col), lambda x: F.lower(x))
    scores = [
        F.struct(
            F.size(F.array_intersect(toks, F.array([F.lit(w) for w in words]))).alias("hits"),
            F.lit(lang).alias("lang"),
        )
        for lang, words in STOPWORDS.items()
    ]
    # array_max on structs orders by (hits, lang) — deterministic argmax with
    # lexicographically-largest language breaking ties
    best = F.array_max(F.array(*scores))
    pred = F.when(F.length(t) > 0, F.when(cjk / F.greatest(F.length(t), F.lit(1)) > 0.25, F.lit("zh")).otherwise(
        F.when(best["hits"] > 0, best["lang"]).otherwise(F.lit("en"))
    )).otherwise(F.lit("en"))
    return docs.withColumn("lang_pred", pred)


def _content_md5(text_col: str = "text") -> Column:
    """md5 hex digest of the whitespace-normalized, lowercased text."""
    return F.md5(F.lower(F.regexp_replace(F.trim(F.coalesce(F.col(text_col), F.lit(""))), r"\s+", " ")))


def with_fingerprint(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Document fingerprint of the whitespace-normalized, lowercased text
    (content-defined identity for exact/near-exact dedup): the md5 hex
    digest, which the DuckDB oracle reproduces character for character."""
    return docs.withColumn("fingerprint", _content_md5(text_col))


# --- dedup ---------------------------------------------------------------------


def dedup_exact(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup on normalized text hash: one row per distinct content with
    the kept (minimum) id and duplicate count. Hash-groupBy → map-side
    partials; no text comparisons beyond the hash."""
    return (
        docs.select(_content_md5(text_col).alias("content_hash"), F.col(id_col))
        .groupBy("content_hash")
        .agg(F.min(id_col).alias("keep_id"), F.count("*").alias("dup_count"))
    )


def shingle_array(k: int = 3, text_col: str = "text") -> Column:
    """Distinct k-word shingles of the lowercased token stream as an array
    column (expression-only — no explode). Docs with fewer than k tokens
    contribute their full token string."""
    toks = F.transform(ws_tokens(text_col), lambda x: F.lower(x))
    n = F.size(toks)
    idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))
    sh = F.when(n >= k, F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, k)))).otherwise(
        F.array(F.concat_ws(" ", toks))
    )
    return F.array_distinct(sh)


def word_shingles(docs: DataFrame, k: int = 3, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(id, shingle) pairs: shingle_array exploded."""
    return docs.select(F.col(id_col).alias("id"), F.explode(shingle_array(k, text_col)).alias("shingle"))


def jaccard_pairs(
    docs: DataFrame,
    k: int = 3,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_shingle_df: int = 1000,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs via shingle self-join.

    J(A,B) = |A∩B| / (|A|+|B|-|A∩B|); intersection counted by generating
    in-bucket pairs per shingle, union from per-doc shingle counts. Shingles
    appearing in more than max_shingle_df docs are dropped before pair
    generation (stop-shingle cap — the skew guard; a shingle in d docs
    creates d^2/2 pairs).

    Scale shape: per-doc sizes are an EXPRESSION on docs (size of the shingle
    array — no explode, no shuffle). The exploded (id, shingle) frame crosses
    the wire exactly ONCE: groupBy(shingle).collect_list(id) — a self-join
    formulation would shuffle it twice (Spark does not reuse the exchange
    across the join's two identically-derived sides) and recompute the
    explode per side. The stop-shingle cap is then a free `size(ids) <= cap`
    filter on the grouped frame (no second df-count pass), and pairs are
    generated NARROWLY from each bucket's sorted id array via
    posexplode + slice, which bounds per-row memory at O(cap) instead of the
    O(cap^2) a flatten-of-combinations would allocate. Sorting ids ascending
    makes id_a < id_b by construction. No forced broadcasts: the sizes join
    stays a plain shuffle join and AQE picks broadcast at runtime when a
    side is small."""
    sizes = docs.select(F.col(id_col).alias("id"), F.size(shingle_array(k, text_col)).alias("n_sh"))
    sh = word_shingles(docs, k, text_col, id_col)
    buckets = (
        sh.groupBy("shingle")
        .agg(F.array_sort(F.collect_list("id")).alias("ids"))
        .where((F.size("ids") >= 2) & (F.size("ids") <= max_shingle_df))
    )
    exploded = buckets.select("ids", F.posexplode("ids").alias("pos", "id_a"))
    pairs = exploded.select(
        "id_a",
        F.explode(F.slice("ids", F.col("pos") + 2, F.size("ids"))).alias("id_b"),
    )
    inter = pairs.groupBy("id_a", "id_b").agg(F.count("*").alias("inter"))
    out = (
        inter.join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("n_sh", "n_a"), "id_a")
        .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("n_sh", "n_b"), "id_b")
        .withColumn("jaccard", F.col("inter") / (F.col("n_a") + F.col("n_b") - F.col("inter")))
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return out


def _shingle_sets(docs: DataFrame, k: int, text_col: str, id_col: str) -> DataFrame:
    """(id, sh): each document's distinct shingles, an expression on docs (no
    explode, no exchange). One row per document, so ids must be unique."""
    return docs.select(F.col(id_col).alias("id"), shingle_array(k, text_col).alias("sh"))


def _signed(sets: DataFrame, num_hashes: int) -> DataFrame:
    """(id, sig) from _shingle_sets' (id, sh)."""
    sig = F.array(*[
        F.array_min(F.transform(F.col("sh"), lambda s, i=i: F.md5(F.concat(F.lit(f"{i}:"), s))))
        for i in range(num_hashes)
    ])
    return sets.select("id", sig.alias("sig"))


def minhash_signatures(
    docs: DataFrame,
    num_hashes: int = 64,
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, sig array<string>): MinHash signature per document.

    h_i(s) = md5(i || ':' || s) hex string, LEXICOGRAPHIC min per salt —
    byte-identical in DuckDB, so the oracle rebuilds the signatures. One row
    per document: ids must be unique."""
    return _signed(_shingle_sets(docs, k, text_col, id_col), num_hashes)


#: Default per-bucket neighbour cap for LSH candidate generation. Buckets of
#: size <= cap + 1 emit exactly the all-pairs banding semantics; larger ones
#: degrade to a sorted-adjacency band (see _capped_bucket_pairs).
LSH_BUCKET_CAP = 1024


def _warn_when_positive(obs: "Observation", metric: str, message: str, *fmt_args) -> None:
    """Log `message` (with *fmt_args + the metric value) once `obs` resolves
    with a positive value for `metric`.

    The wait runs in a daemon thread blocking on Observation.get, which
    resolves when the FIRST action on the observed DataFrame completes — so
    the diagnostic costs ZERO extra Spark jobs (a separate .count() would
    re-run candidate generation). If the frame is never executed the thread
    parks forever; it is a daemon, so it dies with the process."""

    def _wait() -> None:
        try:
            val = obs.get[metric]
        except Exception:  # pragma: no cover — interpreter/session teardown races
            return
        if val:
            _log.warning(message, *fmt_args, val)

    threading.Thread(target=_wait, daemon=True, name="transcriptts-obs-warn").start()


def _capped_bucket_pairs(
    tagged: DataFrame,
    key_cols: list[str],
    max_bucket_size: int,
    warn_cap_binding: bool = False,
    warn_label: str = "LSH bucket",
    directed: bool = False,
) -> DataFrame:
    """Ordered (id_a < id_b) candidate pairs within each bucket, bounded.

    Single-exchange shape (the proven `jaccard_pairs` pattern): groupBy on the
    bucket keys + sorted collect_list replaces a bucket self-join — ONE
    corpus-wide exchange instead of two — and pair generation is narrow
    (posexplode + slice, O(cap) per-row memory, no shuffle).

    CAP SEMANTICS: each id pairs with at most `max_bucket_size` of its
    successors in the bucket's sorted id order. A bucket of size
    <= max_bucket_size + 1 emits ALL in-bucket pairs (exact banding
    semantics). An oversized bucket — e.g. 10^4 copies of the same
    boilerplate, the NORM in web training corpora — degrades to a
    sorted-adjacency band: output is O(d * cap) instead of O(d^2 / 2), and
    the band keeps every id transitively connected to the whole bucket (ids
    at sorted positions i and i+1 always pair), so connected-components
    dedup still groups the entire duplicate cluster.

    `directed=True` additionally emits each id's PREDECESSOR band (both
    directions per pair), still from the single explode — for top-k style
    consumers where every id is a query; no plan-duplicating union.

    `warn_cap_binding=True` attaches a free Observation counting oversized
    buckets and logs a warning when the cap bound (no extra job; the metric
    piggybacks on the caller's first action)."""
    grouped = (
        tagged.groupBy(*key_cols)
        .agg(F.array_sort(F.collect_list("id")).alias("ids"))
        .where(F.size("ids") >= 2)
    )
    if warn_cap_binding:
        obs = Observation()
        grouped = grouped.observe(
            obs, F.sum((F.size("ids") > max_bucket_size + 1).cast("long")).alias("n_capped")
        )
        _warn_when_positive(
            obs,
            "n_capped",
            "%s: max_bucket_size=%d bound for %d buckets — their candidate "
            "pairs were thinned to a sorted-adjacency band (connectivity "
            "preserved; raise the cap for exhaustive in-bucket pairs)",
            warn_label,
            max_bucket_size,
        )
    exploded = grouped.select("ids", F.posexplode("ids").alias("pos", "id_a"))
    fwd = F.slice("ids", F.col("pos") + 2, max_bucket_size)
    if not directed:
        return exploded.select("id_a", F.explode(fwd).alias("id_b"))
    bwd = F.slice(
        "ids",
        F.greatest(F.col("pos") + 1 - max_bucket_size, F.lit(1)),
        F.least(F.col("pos"), F.lit(max_bucket_size)),
    )
    return exploded.select("id_a", F.explode(F.concat(fwd, bwd)).alias("id_b"))


def lsh_candidate_pairs(
    signatures: DataFrame,
    bands: int = 16,
    sig_len: int | None = None,
    max_bucket_size: int = LSH_BUCKET_CAP,
    warn_cap_binding: bool = False,
) -> DataFrame:
    """MinHash-LSH banding: split each signature into `bands` equal slices,
    bucket on (band index, slice hash), emit distinct in-bucket pairs.

    This is the O(n^2)-avoidance step: pairs only form inside buckets, and
    bucket sizes stay small for non-duplicate corpora. Degenerate buckets
    (mass-duplicated boilerplate) are bounded by `max_bucket_size` — see
    _capped_bucket_pairs for the exact cap semantics. Candidate generation is
    single-exchange: groupBy(band, bucket) + collect_list instead of a bucket
    self-join, and the final distinct exchanges bare id pairs only.

    Pass `sig_len` (the caller's num_hashes) to keep the plan fully lazy;
    omitting it falls back to a driver-side single-row schema probe."""
    if sig_len is None:
        sig_len_row = signatures.select(F.size("sig").alias("n")).limit(1).collect()
        if not sig_len_row:
            return signatures.sparkSession.createDataFrame([], "id_a long, id_b long")
        sig_len = sig_len_row[0]["n"]
    rows = sig_len // bands
    if rows < 1:
        raise ValueError("bands exceeds signature length")
    banded = signatures.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(b).alias("band"), F.hash(F.slice("sig", b * rows + 1, rows)).alias("bucket"))
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("id", "bb.band", "bb.bucket")
    pairs = _capped_bucket_pairs(
        banded, ["band", "bucket"], max_bucket_size, warn_cap_binding, "MinHash-LSH banding"
    )
    # same pair can collide in several bands; dedupe on bare ids (16 B/row)
    return pairs.distinct()


def minhash_dedup(
    docs: DataFrame,
    num_hashes: int = 64,
    bands: int = 16,
    k: int = 3,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_bucket_size: int = LSH_BUCKET_CAP,
) -> DataFrame:
    """MinHash-LSH near-dup pipeline: shingle → sign → band → bucket →
    EXACT Jaccard verification of the candidates only. Degenerate band
    buckets are bounded by `max_bucket_size` (see _capped_bucket_pairs).
    Document ids must be unique: the signatures and the verification join
    read one _shingle_sets row per document."""
    sets = _shingle_sets(docs, k, text_col, id_col)
    cands = lsh_candidate_pairs(
        _signed(sets, num_hashes), bands, sig_len=num_hashes, max_bucket_size=max_bucket_size
    )
    j = (
        cands.join(sets.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a")), "id_a")
        .join(sets.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b")), "id_b")
        .withColumn("inter", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn("jaccard", F.col("inter") / (F.size("sh_a") + F.size("sh_b") - F.col("inter")))
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return j


def _token_bit(i: int) -> Column:
    """Bit i (0..63) of the per-token hash, as an int column over `hx`: hex
    digit i//4 of the md5 hex string, bit i%4 of it — reproducible character
    for character in DuckDB (the oracle queries)."""
    digit = F.expr(f"instr('0123456789abcdef', substring(hx, {i // 4 + 1}, 1)) - 1")
    return F.shiftright(digit, i % 4).bitwiseAND(F.lit(1))


def simhash64(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """64-bit SimHash: per token hash, vote +1/-1 per bit, sign → bit.

    Implemented as an explode + 64 conditional-sum aggregates — all JVM-side.
    Near-dup candidates = small Hamming distance (see simhash_pairs)."""
    toks = docs.select(F.col(id_col).alias("id"), F.explode(ws_tokens(text_col)).alias("tok"))
    toks = toks.withColumn("hx", F.md5(F.lower(F.col("tok"))))
    votes = toks.groupBy("id").agg(
        *[F.sum(F.when(_token_bit(i) == 1, 1).otherwise(-1)).alias(f"b{i}") for i in range(64)]
    )
    sim = None
    for i in range(64):
        bit = F.when(F.col(f"b{i}") > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        term = F.shiftleft(bit, i)
        sim = term if sim is None else sim.bitwiseXOR(term)
    return votes.select("id", sim.alias("simhash"))


def _band_widths(bands: int) -> list[int]:
    """Split 64 bits into `bands` contiguous chunks, widths differing by <=1."""
    base, extra = divmod(64, bands)
    return [base + (1 if b < extra else 0) for b in range(bands)]


def simhash_pairs(
    docs: DataFrame,
    max_hamming: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    bands: int | None = None,
) -> DataFrame:
    """Near-dup pairs by SimHash: band the 64 bits into `bands` contiguous
    keys, bucket-join, then verify exact Hamming distance via bit_count(xor).

    Recall guarantee is pigeonhole: a pair within Hamming distance d shares
    at least one band iff bands >= d+1 — so bands defaults to
    max_hamming + 1 (the round-1 fixed 4-band layout silently missed pairs
    whose >3 differing bits spread across all bands)."""
    if bands is None:
        bands = max_hamming + 1
    if bands < 1 or bands > 64:
        raise ValueError("bands must be in [1, 64]")
    if bands < max_hamming + 1:
        raise ValueError(
            f"bands={bands} cannot guarantee recall for max_hamming={max_hamming}; need >= {max_hamming + 1}"
        )
    widths = _band_widths(bands)
    offsets = [sum(widths[:b]) for b in range(bands)]
    s = simhash64(docs, text_col, id_col)
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.shiftright("simhash", offsets[b]).bitwiseAND(F.lit((1 << widths[b]) - 1)).alias("key"),
        )
        for b in range(bands)
    ]
    banded = s.select(
        "id", "simhash", F.explode(F.array(*band_structs)).alias("bb")
    ).select("id", "simhash", "bb.band", "bb.key")
    a = banded.select(F.col("id").alias("id_a"), F.col("simhash").alias("sh_a"), "band", "key")
    b = banded.select(F.col("id").alias("id_b"), F.col("simhash").alias("sh_b"), "band", "key")
    return (
        a.join(b, ["band", "key"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))).alias("hamming"))
        .distinct()
        .where(F.col("hamming") <= max_hamming)
    )


# --- embeddings: similarity search + near-dup -----------------------------------


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v)


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v))


def cosine_topk(
    emb: DataFrame,
    queries: DataFrame | None = None,
    topk: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    allow_self_all_pairs: bool = False,
) -> DataFrame:
    """Brute-force cosine top-k: broadcast the (small) query side against the
    corpus, dot products via zip_with/aggregate (JVM), rank per query.

    Exactness baseline; O(|Q| * |corpus| * dim). At 100 TB the corpus side
    stays partitioned and ONLY the query frame broadcasts — `queries` is
    therefore required. Self-similarity over the whole corpus would put the
    corpus itself on the broadcast side of a nested-loop join (a driver
    OOM at scale), so it must be opted into explicitly with
    allow_self_all_pairs=True (small-SF exactness baselines only); the
    scale path for self-similarity is ann_lsh_topk / embedding_dedup."""
    if queries is None and not allow_self_all_pairs:
        raise ValueError(
            "cosine_topk requires an explicit (small) `queries` frame; "
            "pass allow_self_all_pairs=True only for small exactness baselines "
            "(self-similarity at scale belongs to ann_lsh_topk)"
        )
    base = emb.select(
        F.col(id_col).alias("cid"),
        F.col(vec_col).cast("array<double>").alias("cvec"),
    ).withColumn("cnorm", _norm(F.col("cvec")))
    qs = (
        (queries if queries is not None else emb)
        .select(F.col(id_col).alias("qid"), F.col(vec_col).cast("array<double>").alias("qvec"))
        .withColumn("qnorm", _norm(F.col("qvec")))
    )
    # norms are computed once per row BEFORE the join (identical fp values,
    # 1/|Q| resp. 1/|corpus| of the per-pair work)
    sims = base.join(F.broadcast(qs), F.col("cid") != F.col("qid")).select(
        "qid",
        "cid",
        (_dot(F.col("qvec"), F.col("cvec")) / (F.col("qnorm") * F.col("cnorm"))).alias("cos"),
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cos"), F.asc("cid"))
    return sims.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= topk)


def _hyperplanes(dim: int, n_planes: int, seed: int):
    import numpy as np

    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim))


def _sign_bucket(v: Column, planes) -> Column:
    """Packed sign-pattern bucket id for one hyperplane table (JVM-side)."""
    bucket = None
    for i, row in enumerate(planes):
        bit = F.when(
            F.aggregate(
                F.zip_with(v, F.array([F.lit(float(w)) for w in row]), lambda x, y: x * y),
                F.lit(0.0),
                lambda acc, t: acc + t,
            )
            >= 0,
            F.lit(1),
        ).otherwise(F.lit(0))
        term = F.shiftleft(bit.cast("long"), i)
        bucket = term if bucket is None else bucket + term
    return bucket


def ann_lsh_topk(
    emb: DataFrame,
    topk: int = 5,
    n_planes: int = 12,
    seed: int = 42,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int | None = None,
    n_tables: int = 1,
    max_bucket_size: int = LSH_BUCKET_CAP,
) -> DataFrame:
    """Approximate NN via random-hyperplane LSH: sign pattern of n_planes
    projections → bucket; candidates only form within a bucket; exact cosine
    re-ranks candidates. Recall trades off with n_planes; the scale path —
    bucketed candidate generation replaces the all-pairs product.

    `n_tables` > 1 enables OR-amplification: each table hashes with an
    independent hyperplane set (seed + table index), a pair is a candidate if
    it collides in ANY table, and candidates are deduped before the exact
    re-rank. Recall rises ~(1 - (1 - p^b)^T) at T× the candidate cost —
    measured in tests/test_datapipe.py::test_ann_recall_floor and recorded
    in BENCH/ANN_RECALL.md.

    Scale shape: candidate generation carries BARE IDS only (groupBy bucket
    + collect_list, one exchange, per-bucket output bounded by
    `max_bucket_size` — see _capped_bucket_pairs), the OR-amplification
    dedup exchanges 16-byte id pairs (not 2·dim-double vector rows), and the
    vectors travel exactly once per side through the re-attach joins.

    Pass `dim` explicitly to keep the plan fully lazy; omitting it falls
    back to a driver-side single-row schema probe."""
    if dim is None:
        sample = emb.select(F.size(vec_col).alias("d")).limit(1).collect()
        if not sample:
            return emb.sparkSession.createDataFrame([], "qid long, cid long, cos double, rank int")
        dim = sample[0]["d"]
    v = F.col(vec_col).cast("array<double>")
    buckets = F.array(
        *[
            F.struct(
                F.lit(t).alias("tbl"),
                _sign_bucket(v, _hyperplanes(dim, n_planes, seed + t)).alias("b"),
            )
            for t in range(n_tables)
        ]
    )
    tagged = emb.select(F.col(id_col).alias("id"), F.explode(buckets).alias("bb")).select(
        "id", F.col("bb.tbl").alias("tbl"), F.col("bb.b").alias("bucket")
    )
    # directed=True: both (q, c) and (c, q) come out of the single bucket
    # explode — a union of swapped halves would duplicate the whole
    # candidate-generation subtree (two bucket exchanges) in the plan
    cand = _capped_bucket_pairs(tagged, ["tbl", "bucket"], max_bucket_size, directed=True)
    if n_tables > 1:
        # OR-amplification: same pair may collide in several tables — dedupe
        # on bare ids BEFORE vectors attach, so the distinct's exchange rows
        # are 16 bytes, not 2·dim doubles
        cand = cand.distinct()
    vecs = emb.select(F.col(id_col).alias("id"), v.alias("vec")).withColumn("nrm", _norm(F.col("vec")))
    sims = (
        cand.select(F.col("id_a").alias("qid"), F.col("id_b").alias("cid"))
        .join(
            vecs.select(F.col("id").alias("qid"), F.col("vec").alias("qvec"), F.col("nrm").alias("qnorm")),
            "qid",
        )
        .join(
            vecs.select(F.col("id").alias("cid"), F.col("vec").alias("cvec"), F.col("nrm").alias("cnorm")),
            "cid",
        )
        .select(
            "qid", "cid", (_dot(F.col("qvec"), F.col("cvec")) / (F.col("qnorm") * F.col("cnorm"))).alias("cos")
        )
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cos"), F.asc("cid"))
    return sims.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= topk)


def ivf_codebook(
    emb: DataFrame, k_cells: int = 16, vec_col: str = "embedding", id_col: str = "vec_id"
) -> list[tuple[int, list[float]]]:
    """Deterministic sampled codebook for IVF: the k vectors whose md5(id)
    is lexicographically smallest. A random-sample codebook is a standard
    coarse quantizer for IVF-Flat (no training loop), and hashing ids makes
    the 'random' sample engine-portable: DuckDB's `ORDER BY md5(...) LIMIT k`
    picks the identical k vectors, so the oracle can rebuild the codebook in
    SQL. orderBy+limit compiles to TakeOrderedAndProject (per-partition
    top-k, driver merges k rows per partition) — no global sort at scale.

    The codebook is a driver-side artifact (k x dim doubles) by design —
    real IVF codebooks are trained offline and shipped to executors; here it
    ships once per executor as the numpy arrays captured by
    `_ivf_probe_udf`, which makes cell assignment a pure map (zero
    shuffle)."""
    rows = (
        emb.select(
            F.col(id_col).alias("cb_id"), F.col(vec_col).cast("array<double>").alias("cv")
        )
        .orderBy(F.md5(F.col("cb_id").cast("string").cast("binary")), F.col("cb_id"))
        .limit(k_cells)
        .collect()
    )
    return [(int(r["cb_id"]), [float(x) for x in r["cv"]]) for r in rows]


def _ivf_probe_udf(codebook: list[tuple[int, list[float]]], nprobe: int):
    """Arrow-batched nearest-cells UDF: array<long> of the `nprobe` nearest
    centroid ids, nearest first. The codebook ships once per executor as
    captured numpy arrays (k x dim doubles — the standard 'trained artifact'
    shape), squared L2 distances d = |v|^2 + |c|^2 - 2 v.c are one matmul
    per Arrow batch, rounded to 6 dp, and ties break on centroid id
    ascending (id-sorted columns + stable argsort) — the oracle's
    `ORDER BY d, cb_id`."""
    import numpy as np
    import pandas as pd

    ids = np.array([c for c, _ in codebook], dtype=np.int64)
    C = np.array([cv for _, cv in codebook], dtype=np.float64)
    order = np.argsort(ids)
    ids, C = ids[order], C[order]
    cnorm2 = (C * C).sum(axis=1)

    @F.pandas_udf("array<long>")
    def probe_cells(vecs: pd.Series) -> pd.Series:
        V = np.asarray(vecs.tolist(), dtype=np.float64)
        if V.size == 0:
            return pd.Series([], dtype=object)
        d = np.round((V * V).sum(axis=1)[:, None] + cnorm2[None, :] - 2.0 * (V @ C.T), 6)
        near = np.argsort(d, axis=1, kind="stable")[:, :nprobe]
        return pd.Series(list(ids[near]))

    return probe_cells


def ann_ivf_topk(
    emb: DataFrame,
    queries: DataFrame | None = None,
    k_cells: int = 16,
    nprobe: int = 4,
    topk: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    codebook: list[tuple[int, list[float]]] | None = None,
) -> DataFrame:
    """Approximate NN via IVF-Flat: a k_cells coarse quantizer partitions the
    corpus into cells (nearest-centroid assignment); each query probes its
    nprobe nearest cells and exact cosine re-ranks only those candidates.
    The complement to ann_lsh_topk — IVF gives data-adaptive buckets and an
    explicit recall/cost dial (nprobe) instead of LSH's hyperplane count.

    Cells come from one Arrow-batched matmul UDF (`_ivf_probe_udf`): a
    query's probe list is its output, a corpus vector's cell is element 1
    of it. It replaced an expression path that baked the codebook into one
    Catalyst projection (size k_cells x dim, so it could not scale k): at
    sf0.1 on local[4] (4 cores, one warm-up, 5-7 alternating passes into a
    noop sink) the expression path took a median 3.59 s (min 2.93 s) and the
    matmul path 2.03 s (min 1.71 s), with identical (qid, cid,
    round(cos, 6), rank) sets over 2,000 rows.

    100-TB shape: assignment is a pure map (no shuffle); the candidate join
    keys on cell id (k_cells-way hash join, size k_cells ~ sqrt(N) in
    production to bound cell size; uneven cells are AQE-skew-join
    territory); exact re-rank work is |Q| * nprobe/k_cells * N instead of
    |Q| * N. Recall vs brute force is measured in tests/test_datapipe.py and
    BENCH/ANN_RECALL.md."""
    if nprobe < 1:
        raise ValueError("nprobe must be >= 1: a corpus vector's cell is its nearest probe")
    if codebook is None:
        codebook = ivf_codebook(emb, k_cells=k_cells, vec_col=vec_col, id_col=id_col)
    v = F.col(vec_col).cast("array<double>")
    probe_cells = _ivf_probe_udf(codebook, nprobe)(v)
    assigned = emb.select(
        F.col(id_col).alias("cid"),
        v.alias("cvec"),
        F.element_at(probe_cells, 1).alias("cell"),
    ).withColumn("cnorm", _norm(F.col("cvec")))
    qsrc = queries if queries is not None else emb
    probes = (
        qsrc.select(
            F.col(id_col).alias("qid"),
            v.alias("qvec"),
            F.explode(probe_cells).alias("cell"),
        )
        .withColumn("qnorm", _norm(F.col("qvec")))
    )
    # cells are disjoint (each corpus vector lives in exactly one), so a
    # (qid, cid) pair appears at most once across the probed cells — no dedupe
    sims = probes.join(assigned, "cell").where(F.col("qid") != F.col("cid")).select(
        "qid",
        "cid",
        (_dot(F.col("qvec"), F.col("cvec")) / (F.col("qnorm") * F.col("cnorm"))).alias("cos"),
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cos"), F.asc("cid"))
    return sims.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= topk)


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """Distributed connected components over a dup-pair edge list. Returns
    (v, component_id) for every node that appears in a pair; component_id =
    the smallest node id in the component.

    This is the last step of a real dedup pipeline: candidate generators
    (minhash_dedup / simhash_pairs / embedding_dedup) emit PAIRS, but the
    keep-set needs transitive groups — a~b and b~c must collapse a,b,c to
    one canonical id even though (a,c) was never emitted.

    Min-label propagation runs first: label(v) starts at v, each round takes
    the min of a node's label and its neighbors' labels, converging in
    graph-DIAMETER rounds. Each round is ONE shuffle join keyed on node id
    plus a min-aggregation (map-side partial), and labels only ever
    decrease, so convergence is exact: stop when none got strictly smaller.
    Dup graphs are near-cliques from banding (diameter 2-4), so this is the
    path they take. A graph that has not converged after `max_iter` rounds
    has a long diameter; the same checkpointed edge list then goes to star
    contraction (`_star_components`, O(log^2 n) iterations on any
    diameter), and only a star failure raises. On the sf0.1 dedup graph
    (pairs precomputed, local[4]) min-label took a median 1.76 s and star
    4.17 s; on a 2,000-node path min-label stops unconverged at max_iter=25
    and star converges (27.7 s). Both truncate lineage per round with an eager
    localCheckpoint so the plan does not grow with rounds."""
    e = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    edges = e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))).distinct()
    edges = edges.localCheckpoint(eager=True)
    labels = edges.select(F.col("src").alias("v")).distinct().withColumn("label", F.col("v"))
    labels = labels.localCheckpoint(eager=True)
    for _ in range(max_iter):
        prop = edges.join(labels, edges["dst"] == labels["v"]).select(
            edges["src"].alias("v"), F.col("label")
        )
        new_labels = (
            labels.union(prop).groupBy("v").agg(F.min("label").alias("label"))
        ).localCheckpoint(eager=True)
        shrunk = not (
            new_labels.alias("n")
            .join(labels.alias("o"), "v")
            .where(F.col("n.label") < F.col("o.label"))
            .isEmpty()
        )
        labels = new_labels
        if not shrunk:
            return labels.select("v", F.col("label").alias("component_id"))
    return _star_components(edges, max_iter)


def _star_components(e: DataFrame, max_iter: int) -> DataFrame:
    """Alternating large-star/small-star contraction (Kiveris et al.,
    SoCC'14). Each phase recomputes, per node u, m = min(neighborhood(u) ∪
    {u}) and rewires: large-star points every neighbor LARGER than u at m,
    small-star points every neighbor <= u (and u itself) at m. The edge set
    monotonically contracts toward a star forest whose centers are the
    component minima; O(log^2 n) iterations on any graph.

    Scale shape per phase: one groupBy(node).min aggregation (map-side
    partials) + one join of the edge set against that node-min table —
    no neighborhood lists are ever materialized (the paper's reduce-side
    Γ(u) is re-expressed as min-agg + join). Convergence = the canonical
    (larger, smaller) edge set reaches a fixed point, detected exactly via
    count equality + an empty exceptAll difference."""
    # canonical form: src > dst, no self-loops, each undirected edge once
    edges = (
        e.where(F.col("src") != F.col("dst"))
        .select(F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # nodes from the input edges: a node whose only pair is a self-loop has
    # no canonical edge but is still its own component
    nodes = (
        e.select(F.col("src").alias("v"))
        .union(e.select(F.col("dst").alias("v")))
        .distinct()
        .localCheckpoint(eager=True)
    )

    def phase(edges: DataFrame, large: bool) -> DataFrame:
        sym = edges.union(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        mins = sym.groupBy("src").agg(F.min("dst").alias("mn"))
        mins = mins.select("src", F.least("mn", F.col("src")).alias("m"))
        j = sym.join(mins, "src")
        if large:
            out = j.where(F.col("dst") > F.col("src")).select(
                F.col("dst").alias("a"), F.col("m").alias("b")
            )
        else:
            out = j.where(F.col("dst") <= F.col("src")).select(
                F.col("dst").alias("a"), F.col("m").alias("b")
            ).union(j.select(F.col("src").alias("a"), F.col("m").alias("b")))
        return (
            out.where(F.col("a") != F.col("b"))
            .select(F.greatest("a", "b").alias("src"), F.least("a", "b").alias("dst"))
            .distinct()
        )

    prev_count = edges.count()
    for _ in range(max_iter):
        new_edges = phase(phase(edges, large=True), large=False).localCheckpoint(eager=True)
        new_count = new_edges.count()
        if new_count == prev_count and new_edges.exceptAll(edges).isEmpty():
            break
        edges, prev_count = new_edges, new_count
    else:
        raise RuntimeError(
            f"connected components did not converge: star contraction needs more than "
            f"{max_iter} iterations; raise max_iter"
        )
    # fixed point is a star forest: (non-min node) -> (component min);
    # centers map to themselves via the left join
    mapping = edges.select(F.col("src").alias("v"), F.col("dst").alias("component_id"))
    return nodes.join(mapping, "v", "left").select(
        "v", F.coalesce("component_id", F.col("v")).alias("component_id")
    )


def dedup_components(
    docs: DataFrame, pairs: DataFrame, id_col: str = "doc_id",
    id_a: str = "id_a", id_b: str = "id_b", max_iter: int = 25,
) -> DataFrame:
    """Canonical keep-set from dup pairs: every document labeled with its
    connected component's smallest doc id; is_canonical marks the one doc
    per component that survives dedup (singletons keep themselves)."""
    comp = connected_components(pairs, id_a=id_a, id_b=id_b, max_iter=max_iter)
    return (
        docs.select(id_col)
        .join(comp.withColumnRenamed("v", id_col), id_col, "left")
        .select(
            id_col,
            F.coalesce("component_id", F.col(id_col)).alias("component_id"),
        )
        .withColumn("is_canonical", F.col("component_id") == F.col(id_col))
    )


def embedding_dedup(
    emb: DataFrame, threshold: float = 0.98, n_planes: int = 10, seed: int = 7,
    vec_col: str = "embedding", id_col: str = "vec_id", dim: int | None = None,
    max_pairs_per_vector: int = 50, n_tables: int = 1,
    warn_cap_binding: bool = False,
) -> DataFrame:
    """Embedding-cosine near-dup pairs: LSH-bucketed candidates (near-dups at
    cos >= threshold almost always share all sign bits), exact cosine check.

    CAP SEMANTICS: each query vector keeps at most `max_pairs_per_vector`
    nearest candidates before the threshold filter — a vector with more
    above-threshold near-dups than that emits only its top ones. The cap
    bounds the per-bucket rank window at scale (a pathological bucket of m
    near-identical vectors would otherwise emit m^2/2 pairs); raise it (or
    pass None semantics via a large value) when exhaustive pair listing
    matters more than bounded output. `warn_cap_binding=True` attaches a
    free Observation counting the query vectors whose candidate window
    filled (rank reached the cap — i.e. the cap may have truncated pairs)
    and logs a warning when any exist; the metric piggybacks on the
    caller's first action on the result — NO extra Spark job."""
    ranked = ann_lsh_topk(
        emb, topk=max_pairs_per_vector, n_planes=n_planes, seed=seed,
        vec_col=vec_col, id_col=id_col, dim=dim, n_tables=n_tables,
    )
    if warn_cap_binding:
        obs = Observation()
        ranked = ranked.observe(
            obs, F.sum((F.col("rank") == max_pairs_per_vector).cast("long")).alias("n_capped")
        )
        _warn_when_positive(
            obs,
            "n_capped",
            "embedding_dedup: max_pairs_per_vector=%d bound for %d query "
            "vectors — their near-dup pair lists may be truncated; raise "
            "the cap for exhaustive listing",
            max_pairs_per_vector,
        )
    return (
        ranked.where((F.col("cos") >= threshold) & (F.col("qid") < F.col("cid")))
        .select(F.col("qid").alias("id_a"), F.col("cid").alias("id_b"), "cos")
        .distinct()
    )
