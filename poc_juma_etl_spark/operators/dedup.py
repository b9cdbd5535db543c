"""Deduplication operators for LLM training-data pipelines (extension
surface, BASELINE.json north_star).

Five dedup families over the ``documents`` / ``embeddings`` tables, each
expressed as a distributed DataFrame plan whose candidate generation avoids
the O(n²) cross join — that is the entire game at 100 TB:

- exact           — content-hash groupBy (one shuffle on a 60-bit key)
- n-gram Jaccard  — inverted shingle index self-join (pairs share ≥1 shingle)
- MinHash + LSH   — k-permutation signatures, banded bucket join, verify
- SimHash         — bitwise fingerprint, pigeonhole block join, hamming filter
- embedding cosine— decimal-exact dot products (LSH-bucketed variant in
                    operators/similarity.py)

Every operator's DuckDB oracle runs the same *semantics* (for candidate
generation the oracle may brute-force all pairs — superset — because the
final exact-threshold filter makes candidate-set differences invisible in
the output).

Skew note: an inverted-index join over shingles is skewed by frequent
shingles (stop-phrase problem): a stop-shingle appearing in d documents
contributes d² candidate pairs to the ``a.shingle == b.shingle`` self-join,
so at corpus scale a single "of the and" makes the join quadratic on that
key. The standard mitigation — drop shingles whose document frequency
exceeds ``NGRAM_DF_CUTOFF`` before the join — is applied in
q_dedup_ngram_jaccard (and mirrored in its oracle): Jaccard is computed
over the *discriminative* shingle space only, an industry-standard
approximation that is invisible for near-dup pairs in realistic corpora
(a shingle shared by >1000 documents carries no pair-level signal). AQE
skew-join splitting remains enabled session-wide as the backstop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table, spread
from ..plans.queries import register, scoped_cache
from .srp import spark_srp_bucket, sql_srp_bucket
from .text import MOD_P, SQL_MD5_LONG, md5_long, tokens

# MinHash parameters: k = BANDS * ROWS permutations h_i(x) = (a_i·x + b_i) mod P
# over 60-bit base hashes reduced mod P (P < 2^31 keeps a_i·x inside int64).
MH_BANDS = 8
MH_ROWS = 4
MH_K = MH_BANDS * MH_ROWS


def _shingles(df: DataFrame, n: int = 3) -> DataFrame:
    """(doc_id, shingle) — distinct n-token shingles per document.

    Shingles are assembled *inside* the token array and dededuplicated
    per-doc with array_distinct before the explode — exploding first would
    duplicate the whole token array into every (doc, position) row, a
    ~tokens× data amplification ahead of the shuffle. The build indexes a
    position sequence with a single n-way concat per shingle (0.36 s for
    the sf0.1 corpus vs 0.47 s for the n-pass zip_with-of-slices chain it
    replaces, min-of-3 warm; an even earlier element_at row-walk was 4x
    slower than either — GetArrayItem over `sequence` is the fast shape)."""
    ts_name = "ts"
    terms = []
    for k in range(n):
        if k:
            terms.append("' '")
        terms.append(f"{ts_name}[i{k - 1:+d}]")
    sh_arr = F.expr(
        f"CASE WHEN size({ts_name}) >= {n} THEN "
        f"array_distinct(transform(sequence(1, size({ts_name}) - {n - 1}), "
        f"i -> concat({','.join(terms)}))) "
        "ELSE array() END"
    )
    return df.select("doc_id", tokens("text").alias("ts")).select(
        "doc_id", F.explode(sh_arr).alias("shingle")
    )


@register(
    "q_dedup_exact",
    oracle="""
    SELECT md5(array_to_string(string_split_regex(trim(text), '\\s+'), ' ')) AS content_key,
           MIN(doc_id) AS keeper_doc_id,
           COUNT(*) AS n_copies
    FROM documents
    GROUP BY 1
    ORDER BY content_key
    """,
    doc="Exact dedup on a whitespace-normalized content hash: groupBy the "
    "60-bit key, keep min doc_id. One shuffle on the hash — the linear-scale "
    "baseline every fuzzy method falls back on.",
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    key = F.md5(F.array_join(tokens("text"), " "))
    return (
        d.groupBy(key.alias("content_key"))
        .agg(F.min("doc_id").alias("keeper_doc_id"), F.count(F.lit(1)).alias("n_copies"))
        .orderBy("content_key")
    )


_SQL_SHINGLES = """
    tok AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ts FROM documents
    ),
    sh AS (
      SELECT DISTINCT doc_id,
             unnest(list_transform(range(1, greatest(len(ts) - 1, 1)),
                                   i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS shingle
      FROM tok
    )
"""

# Stop-shingle document-frequency cutoff: shingles present in more than this
# many distinct documents are dropped before the inverted-index self-join.
# 1000 bounds any single join key to ≤ cutoff² ≈ 10⁶ candidate pairs (a few
# tasks' worth) no matter how large the corpus, while staying far above the
# df of any shingle that still discriminates near-duplicates. The sf0.01
# fixture's max shingle df is 7, so the fixture output is unchanged — the
# cap is exercised by tests/test_m4_operators.py with a tiny cutoff.
NGRAM_DF_CUTOFF = 1000


def ngram_jaccard_pairs(
    d: DataFrame, threshold: float = 0.10, df_cutoff: int = NGRAM_DF_CUTOFF
) -> DataFrame:
    """(doc_a, doc_b, jaccard) pairs with Jaccard ≥ threshold over the
    discriminative (df ≤ df_cutoff) 3-shingle space.

    Candidate generation is posting-list based, not a self-join: each kept
    shingle's sorted doc list is built once (bounded ≤ df_cutoff rows per
    key, so the list aggregate can never blow up on a hot shingle — the
    stop-shingle filter runs FIRST as a plain count groupBy, whose map-side
    partial aggregation is skew-immune) and the i<j pairs are emitted in-row
    with a higher-order transform. That is one shuffle of the shingle table
    plus one of the pair table, versus the window-sort + double-shuffle
    self-join of the naive inverted index."""
    sh = scoped_cache(_shingles(d))
    # document-frequency cap: sh is distinct per (doc_id, shingle), so
    # count(*) per shingle IS the document frequency. Filter by ANTI-joining
    # the HOT set (df > cutoff) rather than inner-joining the keep list:
    # hot is bounded by corpus_size/cutoff distinct values — usually tiny,
    # so AQE broadcasts it — while the keep list is nearly the whole
    # shingle vocabulary and would force a full shuffle join of both sides.
    hot = (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > df_cutoff)
        .select("shingle")
    )
    kept = scoped_cache(sh.join(hot, "shingle", "left_anti"))
    return _pairs_from_kept(kept, threshold)


def _pairs_from_kept(kept: DataFrame, threshold: float) -> DataFrame:
    """(doc_a, doc_b, jaccard >= threshold) from a distinct (doc_id,
    shingle) table that has already been document-frequency-capped.

    Round-13, measured and REJECTED (both §3.3 levers the verdict asked
    for, evidence below — the pair stream is inherent at this threshold):

    - prefix/length candidate filtering: at t=0.10 the PPJoin prefix is
      ⌈0.9·n⌉+1 of n shingles (no reduction by construction), and a
      min/max length-ratio pre-filter killed 0.1% (1 672 of 1 261 621) of
      the sf0.1 pair stream — size dist p5..p95 is 12..92 shingles, far
      inside the 10x ratio a 0.10 threshold allows.
    - carrying (doc_id, n) structs through the posting lists to drop the
      two pair-table sizes joins (§2.4): interleaved A/B on
      q_dedup_ngram_jaccard 0.47x — struct sort_array/collect_list plus
      the widened explode and 3-field aggregate cost ~2x more than the
      two joins, which AQE broadcasts at any SF where ``sizes`` is
      dictionary-like. Revisit only on a deployment where the doc-count
      is too large to broadcast AND the pair table dwarfs it."""
    sizes = kept.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    posts = (
        kept.groupBy("shingle")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("docs"))
        .filter(F.size("docs") >= 2)
    )
    # all i<j pairs from each sorted posting list, generated in-row: for the
    # element at 0-based index i, pair it with every later element (1-based
    # slice start i+2); sortedness makes doc_a < doc_b by construction
    pairs = posts.select(
        F.explode(
            F.expr(
                "flatten(transform(docs, (x, i) -> "
                "transform(slice(docs, i + 2, size(docs)), "
                "y -> struct(x AS doc_a, y AS doc_b))))"
            )
        ).alias("p")
    ).select("p.doc_a", "p.doc_b")
    inter = pairs.groupBy("doc_a", "doc_b").agg(F.count(F.lit(1)).alias("n_shared"))
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    jac = F.col("n_shared").cast("double") / (
        F.col("sa.n") + F.col("sb.n") - F.col("n_shared")
    )
    out = (
        inter.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
        .orderBy("doc_a", "doc_b")
    )
    return out


def rep_ngram_jaccard_pairs(
    reps: DataFrame, threshold: float = 0.10, df_cutoff: int = NGRAM_DF_CUTOFF
):
    """Jaccard pairs among exact-duplicate group REPRESENTATIVES, with all
    document-frequency math done at DOC level — bitwise the decisions
    :func:`ngram_jaccard_pairs` would make on the expanded corpus, at
    distinct-text cost.

    ``reps``: (doc_id, text, gsz) — one row per distinct text, ``gsz`` the
    number of exact copies it stands for. Every copy of a text has the
    same shingle set, so (a) a shingle's doc-level df is the
    group-size-weighted sum over the reps that contain it, and (b) the
    Jaccard between any cross-group copy pair equals the rep-pair Jaccard.
    Returns ``(pairs, nonempty)``: the rep-pair edges, and the reps that
    kept >= 1 discriminative shingle — exactly the groups whose internal
    copy pairs have Jaccard 1.0 in the expanded computation (identical
    non-empty kept sets), i.e. the groups a caller must still connect
    internally. The posting-list pair volume is driven by DISTINCT-text
    density, so a duplicate-heavy corpus (the operating assumption of a
    dedup pipeline; the replicated soak fixture is the worst case) no
    longer squares its near-dup candidate work in the duplication factor."""
    sh = scoped_cache(_shingles(reps.select("doc_id", "text")))
    w = reps.select("doc_id", "gsz")
    hot = (
        sh.join(w, "doc_id")
        .groupBy("shingle")
        .agg(F.sum("gsz").alias("df"))
        .filter(F.col("df") > df_cutoff)
        .select("shingle")
    )
    kept = scoped_cache(sh.join(hot, "shingle", "left_anti"))
    nonempty = kept.select("doc_id").distinct()
    return _pairs_from_kept(kept, threshold), nonempty


def ngram_jaccard_pairs_collapsed(
    d: DataFrame, threshold: float = 0.10, df_cutoff: int = NGRAM_DF_CUTOFF
) -> DataFrame:
    """Row-identical to :func:`ngram_jaccard_pairs`, with the candidate
    generation run over exact-duplicate group representatives
    (:func:`rep_ngram_jaccard_pairs`) and the pair set expanded back to
    copies afterwards:

    - a cross-group copy pair (x in A, y in B) exists iff the rep pair
      does, with the SAME jaccard (identical shingle sets per copy) —
      expansion is two key joins of the rep-pair table against the
      group-membership map, re-ordered with least/greatest since copy ids
      need not sort like their reps;
    - intra-group pairs have jaccard exactly 1.0 iff the text kept >= 1
      discriminative shingle — emitted as the group's x < y self-join.

    The OUTPUT is inherently quadratic in group sizes (it is the gate's
    contract); what the collapse fixes is the COMPUTE — posting-list pair
    generation now tracks distinct-text density, so a duplicate-heavy
    corpus no longer squares its shuffle volume in the duplication factor
    (the replicated soak fixture is the worst case: 10 copies of every
    text)."""
    keyed = d.select("doc_id", F.md5("text").alias("h"))
    groups = keyed.groupBy("h").agg(
        F.min("doc_id").alias("rep"), F.count(F.lit(1)).alias("gsz")
    )
    members = scoped_cache(keyed.join(groups, "h").select("doc_id", "rep"))
    reps = d.join(
        groups.select(F.col("rep").alias("doc_id"), "gsz"), "doc_id"
    ).select("doc_id", "text", "gsz")
    rep_pairs, nonempty = rep_ngram_jaccard_pairs(reps, threshold, df_cutoff)
    ma = members.select(F.col("rep").alias("doc_a"), F.col("doc_id").alias("x"))
    mb = members.select(F.col("rep").alias("doc_b"), F.col("doc_id").alias("y"))
    cross = (
        rep_pairs.join(ma, "doc_a")
        .join(mb, "doc_b")
        .select(
            F.least("x", "y").alias("doc_a"),
            F.greatest("x", "y").alias("doc_b"),
            "jaccard",
        )
    )
    grp = members.join(nonempty.select(F.col("doc_id").alias("rep")), "rep")
    intra = (
        grp.select("rep", F.col("doc_id").alias("x"))
        .join(grp.select("rep", F.col("doc_id").alias("y")), "rep")
        .filter(F.col("x") < F.col("y"))
        .select(
            F.col("x").alias("doc_a"),
            F.col("y").alias("doc_b"),
            F.lit(1.0).alias("jaccard"),
        )
    )
    return cross.unionByName(intra).orderBy("doc_a", "doc_b")


@register(
    "q_dedup_ngram_jaccard",
    oracle=f"""
    WITH {_SQL_SHINGLES},
    keep AS (
      SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) <= {NGRAM_DF_CUTOFF}
    ),
    kept AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN keep USING (shingle)),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM kept GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
      FROM kept a JOIN kept b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT i.doc_a, i.doc_b,
           CAST(i.n_shared AS DOUBLE) / (sa.n + sb.n - i.n_shared) AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.doc_a
    JOIN sizes sb ON sb.doc_id = i.doc_b
    WHERE CAST(i.n_shared AS DOUBLE) / (sa.n + sb.n - i.n_shared) >= 0.10
    ORDER BY doc_a, doc_b
    """,
    doc="N-gram Jaccard near-dup: inverted 3-shingle index self-join — only "
    "pairs sharing ≥1 shingle are generated (never the n² cross join), then "
    "|A∩B|/|A∪B| ≥ 0.10 over the discriminative shingle space (document "
    f"frequency ≤ {NGRAM_DF_CUTOFF}; stop-shingles would make the join "
    "quadratic on their key at corpus scale). Integer counts ⇒ exact "
    "double ratios.",
)
def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ngram_jaccard_pairs_collapsed(load_table(spark, sf_dir, "documents"))


CONTAIN_THRESHOLD = 0.25


@register(
    "q_dedup_containment",
    oracle=f"""
    WITH {_SQL_SHINGLES},
    keep AS (
      SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) <= {NGRAM_DF_CUTOFF}
    ),
    kept AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN keep USING (shingle)),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM kept GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
      FROM kept a JOIN kept b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ),
    directed AS (
      SELECT doc_a AS contained, doc_b AS container, n_shared FROM inter
      UNION ALL
      SELECT doc_b AS contained, doc_a AS container, n_shared FROM inter
    )
    SELECT d.contained, d.container,
           CAST(d.n_shared AS DOUBLE) / s.n AS containment
    FROM directed d JOIN sizes s ON s.doc_id = d.contained
    WHERE CAST(d.n_shared AS DOUBLE) / s.n >= {CONTAIN_THRESHOLD}
    ORDER BY contained, container
    """,
    doc="Containment dedup — the ASYMMETRIC near-dup Jaccard misses: "
    "containment(A→B) = |A∩B|/|A| flags a document whose shingles mostly "
    "appear inside a larger one (quotes, boilerplate-wrapped reposts, "
    "subset scrapes) even when the symmetric Jaccard is tiny because the "
    "container is big. Same posting-list candidate generation as "
    "q_dedup_ngram_jaccard (pairs only from shared discriminative "
    "shingles, df-capped, never n²); each unordered candidate then fans "
    "to its two directions and divides by the CONTAINED side's size — "
    f"threshold {CONTAIN_THRESHOLD}. Integer counts ⇒ exact ratios.",
)
def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Round-7 dup-collapse (SCALING.md, same shape as
    # ngram_jaccard_pairs_collapsed): shingle/posting work runs over exact-
    # duplicate group REPRESENTATIVES with group-size-weighted doc-level
    # dfs, and the directed pair set expands back to copies — cross-group
    # directions via two key joins (the ratio n_shared/n is computed once
    # per rep pair from the same integers the all-pairs oracle uses, so the
    # doubles are bitwise identical), intra-group ordered pairs at
    # containment exactly 1.0 whenever the text kept >= 1 discriminative
    # shingle (identical kept sets; empty kept sets pair nowhere, matching
    # the oracle's missing `sizes` row). Measured 296.9 s at sf1 before the
    # collapse — copy-pair posting lists square in the duplication factor.
    d = load_table(spark, sf_dir, "documents")
    keyed = d.select("doc_id", F.md5("text").alias("h"))
    groups = keyed.groupBy("h").agg(
        F.min("doc_id").alias("rep"), F.count(F.lit(1)).alias("gsz")
    )
    members = scoped_cache(keyed.join(groups, "h").select("doc_id", "rep"))
    reps = d.join(
        groups.select(F.col("rep").alias("doc_id"), "gsz"), "doc_id"
    ).select("doc_id", "text", "gsz")
    sh = scoped_cache(_shingles(reps.select("doc_id", "text")))
    hot = (
        sh.join(reps.select("doc_id", "gsz"), "doc_id")
        .groupBy("shingle")
        .agg(F.sum("gsz").alias("df"))
        .filter(F.col("df") > NGRAM_DF_CUTOFF)
        .select("shingle")
    )
    kept = scoped_cache(sh.join(hot, "shingle", "left_anti"))
    sizes = kept.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    posts = (
        kept.groupBy("shingle")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("docs"))
        .filter(F.size("docs") >= 2)
    )
    pairs = posts.select(
        F.explode(
            F.expr(
                "flatten(transform(docs, (x, i) -> "
                "transform(slice(docs, i + 2, size(docs)), "
                "y -> struct(x AS doc_a, y AS doc_b))))"
            )
        ).alias("p")
    ).select("p.doc_a", "p.doc_b")
    inter = pairs.groupBy("doc_a", "doc_b").agg(F.count(F.lit(1)).alias("n_shared"))
    directed = inter.select(
        F.col("doc_a").alias("contained_rep"),
        F.col("doc_b").alias("container_rep"),
        "n_shared",
    ).unionByName(
        inter.select(
            F.col("doc_b").alias("contained_rep"),
            F.col("doc_a").alias("container_rep"),
            "n_shared",
        )
    )
    scored = (
        directed.join(sizes, directed.contained_rep == sizes.doc_id)
        .select(
            "contained_rep",
            "container_rep",
            (F.col("n_shared").cast("double") / F.col("n")).alias("containment"),
        )
        .filter(F.col("containment") >= CONTAIN_THRESHOLD)
    )
    mc = members.select(
        F.col("rep").alias("contained_rep"), F.col("doc_id").alias("contained")
    )
    mk = members.select(
        F.col("rep").alias("container_rep"), F.col("doc_id").alias("container")
    )
    cross = (
        scored.join(mc, "contained_rep")
        .join(mk, "container_rep")
        .select("contained", "container", "containment")
    )
    nonempty = kept.select("doc_id").distinct()
    grp = members.join(nonempty.select(F.col("doc_id").alias("rep")), "rep")
    intra = (
        grp.select("rep", F.col("doc_id").alias("contained"))
        .join(grp.select("rep", F.col("doc_id").alias("container")), "rep")
        .filter(F.col("contained") != F.col("container"))
        .select("contained", "container", F.lit(1.0).alias("containment"))
    )
    return cross.unionByName(intra).orderBy("contained", "container")


_SQL_BASE_HASH = f"({SQL_MD5_LONG.format(x='shingle')} % {MOD_P})"


@register(
    "q_dedup_minhash_lsh",
    oracle=f"""
    WITH {_SQL_SHINGLES},
    hashed AS (SELECT doc_id, {_SQL_BASE_HASH} AS h FROM sh),
    sig AS (
      SELECT doc_id, i,
             MIN(((2*i + 1) * h + 7919 * i) % {MOD_P}) AS mh
      FROM hashed, range(0, {MH_K}) r(i)
      GROUP BY doc_id, i
    ),
    bands AS (
      SELECT doc_id, i // {MH_ROWS} AS band,
             md5(array_to_string(list(mh ORDER BY i), ',')) AS band_key
      FROM sig GROUP BY doc_id, band
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    verified AS (
      SELECT c.doc_a, c.doc_b, COUNT(s2.shingle) AS n_shared
      FROM cand c
      JOIN sh s1 ON s1.doc_id = c.doc_a
      LEFT JOIN sh s2 ON s2.doc_id = c.doc_b AND s2.shingle = s1.shingle
      GROUP BY c.doc_a, c.doc_b
    )
    SELECT v.doc_a, v.doc_b,
           CAST(v.n_shared AS DOUBLE) / (sa.n + sb.n - v.n_shared) AS jaccard
    FROM verified v
    JOIN sizes sa ON sa.doc_id = v.doc_a
    JOIN sizes sb ON sb.doc_id = v.doc_b
    WHERE CAST(v.n_shared AS DOUBLE) / (sa.n + sb.n - v.n_shared) >= 0.10
    ORDER BY doc_a, doc_b
    """,
    doc=f"MinHash+LSH near-dup: {MH_K} permutations h_i(x)=((2i+1)x+7919i) "
    f"mod P over shingle hashes, {MH_BANDS} bands × {MH_ROWS} rows, "
    "band-bucket join for candidates, exact-Jaccard verification ≥ 0.10. "
    "The sub-quadratic scale path: only band collisions are compared.",
)
def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread(): a small documents.parquet scans as ONE split, serializing the
    # shingle+md5 CPU onto one core; no-op once the scan has real splits
    d = spread(load_table(spark, sf_dir, "documents"))
    sh = scoped_cache(_shingles(d))
    hashed = sh.select("doc_id", (md5_long(F.col("shingle")) % MOD_P).alias("h"))
    # one wide aggregation computes the whole signature — 32 min() columns
    # with map-side partial combine; no 32× row explosion, one shuffle
    sig = hashed.groupBy("doc_id").agg(
        *[
            F.min(((2 * i + 1) * F.col("h") + 7919 * i) % MOD_P).alias(f"mh{i}")
            for i in range(MH_K)
        ]
    )
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.md5(
                F.concat_ws(",", *[F.col(f"mh{b * MH_ROWS + r}") for r in range(MH_ROWS)])
            ).alias("band_key"),
        )
        for b in range(MH_BANDS)
    ]
    # cached: both sides of the band-bucket self-join read the band keys, and
    # an uncached plan recomputes the 32-permutation signature aggregation
    # (the expensive shuffle of this query) once per join side
    bands = scoped_cache(
        sig.select("doc_id", F.explode(F.array(*band_structs)).alias("bb")).select(
            "doc_id", F.col("bb.band").alias("band"), F.col("bb.band_key").alias("band_key")
        )
    )
    a = bands.alias("a")
    b = bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    s1 = sh.alias("s1")
    s2 = sh.alias("s2")
    inter = (
        cand.join(s1, F.col("doc_a") == F.col("s1.doc_id"))
        .join(
            s2,
            (F.col("doc_b") == F.col("s2.doc_id")) & (F.col("s1.shingle") == F.col("s2.shingle")),
            "left",
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.col("s2.shingle")).alias("n_shared"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    jac = F.col("n_shared").cast("double") / (
        F.col("sa.n") + F.col("sb.n") - F.col("n_shared")
    )
    return (
        inter.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= 0.10)
        .orderBy("doc_a", "doc_b")
    )


# SimHash pigeonhole blocking (Manku et al., WWW'07): a pair within hamming
# radius r is guaranteed to share at least one exact block when the
# fingerprint is split into ≥ r+1 blocks. With radius 3 over 48 bits the
# minimal split is 4 blocks — which is also the WIDEST block (12 bits) that
# keeps the guarantee, and block width is what bounds candidate-join skew:
# each (blk, blk_val) bucket holds ~n/2^width docs and the equi-join is
# quadratic within a bucket. Collision bound: two random fingerprints share
# a given 12-bit block with p = 2^-12, so expected spurious candidates are
# ≤ 4·n²/4096 pairs — 16× fewer than the previous 8-bit blocks (6×256
# buckets), at identical output (radius unchanged). At 10⁹+ docs, the next
# step is Manku's sorted-table refinement (order buckets by the remaining
# 36 bits and scan ranges) rather than ever-wider equi-join blocks.
SIM_BITS = 48
SIM_BLOCKS = 4
SIM_BLOCK_BITS = SIM_BITS // SIM_BLOCKS  # 12
SIM_RADIUS = 3  # requires SIM_BLOCKS >= SIM_RADIUS + 1 (pigeonhole)
assert SIM_BLOCKS >= SIM_RADIUS + 1


# Shared oracle text: simhash fingerprints + the brute-force radius-filtered
# pair set (the candidate superset argument in the module docstring). simh is
# MATERIALIZED — the self-join references it twice and DuckDB inlines
# non-materialized CTEs per reference (the round-4 lesson).
_SQL_SIMHASH_PAIRS = f"""tok AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ts FROM documents
    ),
    tokh AS (
      SELECT DISTINCT doc_id, {SQL_MD5_LONG.format(x="t.tok")} AS h
      FROM tok, unnest(ts) AS t(tok)
    ),
    bits AS (
      SELECT doc_id, i,
             SUM(CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE -1 END) AS w
      FROM tokh, range(0, {SIM_BITS}) r(i)
      GROUP BY doc_id, i
    ),
    simh AS MATERIALIZED (
      SELECT doc_id,
             SUM(CASE WHEN w > 0 THEN (1::BIGINT << i) ELSE 0 END) AS simhash
      FROM bits GROUP BY doc_id
    ),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
      FROM simh a JOIN simh b ON a.doc_id < b.doc_id
      WHERE bit_count(xor(a.simhash, b.simhash)) <= {SIM_RADIUS}
    )"""


def _simhash_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cached (doc_id, simhash) fingerprints — shared by the pair join and
    the grouped twin's value-level collapse."""
    # spread(): the per-token bit voting is CPU-heavy; a small single-file
    # scan would run it on one core (no-op at real scale)
    d = spread(load_table(spark, sf_dir, "documents"))
    # The fingerprint is document-local, so it is built entirely IN-ROW
    # (one aggregate pass accumulating all 48 bit counters in an array
    # accumulator) — the earlier explode-to-(doc, bit)-rows build shuffled
    # tokens×48 rows through two groupBys for the same result; map-only
    # until the block join is the winnowing lesson applied here.
    hs = (
        "array_distinct(transform(ts, t -> "
        "CAST(conv(substring(md5(t), 1, 15), 16, 10) AS BIGINT)))"
    )
    counts = (
        f"aggregate({hs}, array_repeat(CAST(0 AS BIGINT), {SIM_BITS}), "
        "(acc, h) -> transform(acc, (a, i) -> a + IF((h >> i) & 1 = 1, 1L, -1L)))"
    )
    simhash = (
        f"aggregate(zip_with({counts}, sequence(0, {SIM_BITS - 1}), "
        "(w, i) -> IF(w > 0, shiftleft(CAST(1 AS BIGINT), i), CAST(0 AS BIGINT))), "
        "CAST(0 AS BIGINT), (acc, v) -> acc + v)"
    )
    # cached: both sides of the pigeonhole self-join read the fingerprints,
    # and the 48-counter aggregate is the expensive part of the query — an
    # uncached plan runs it twice (once per join side)
    return scoped_cache(
        d.select("doc_id", tokens("text").alias("ts")).select(
            "doc_id", F.expr(simhash).alias("simhash")
        )
    )


def _simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_a, doc_b, hamming) pairs within the pigeonhole radius — the
    shared core of q_dedup_simhash and its grouped twin."""
    simh = _simhash_table(spark, sf_dir)
    # pigeonhole candidate generation: explode each doc into its blocks
    blocks = simh.select(
        "doc_id",
        "simhash",
        F.explode(F.sequence(F.lit(0), F.lit(SIM_BLOCKS - 1))).alias("blk"),
    ).withColumn(
        "blk_val",
        F.expr(f"(simhash >> (blk * {SIM_BLOCK_BITS})) & {(1 << SIM_BLOCK_BITS) - 1}"),
    )
    a = blocks.alias("a")
    b = blocks.alias("b")
    hamming = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.blk_val") == F.col("b.blk_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            hamming.cast("bigint").alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= SIM_RADIUS)
    )


@register(
    "q_dedup_simhash",
    oracle=f"""
    WITH {_SQL_SIMHASH_PAIRS}
    SELECT doc_a, doc_b, hamming FROM pairs
    ORDER BY doc_a, doc_b
    """,
    doc=f"SimHash near-dup: {SIM_BITS}-bit sign fingerprint of token-hash "
    f"bit votes; pairs within hamming ≤ {SIM_RADIUS}. Spark generates "
    f"candidates by the pigeonhole block join ({SIM_BLOCKS} blocks of "
    f"{SIM_BLOCK_BITS} bits — any pair within radius {SIM_RADIUS} shares an "
    "exact block, and 2^12 bucket values per block bound join skew), oracle "
    "brute-forces; the exact hamming filter makes both sets identical.",
)
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _simhash_pairs(spark, sf_dir).orderBy("doc_a", "doc_b")


@register(
    "q_dedup_simhash_grouped",
    oracle=f"""
    WITH {_SQL_SIMHASH_PAIRS},
    sym AS (
      SELECT doc_a AS doc_id, doc_b AS partner, hamming FROM pairs
      UNION ALL
      SELECT doc_b AS doc_id, doc_a AS partner, hamming FROM pairs
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_dups,
           CAST(bit_xor(partner) AS BIGINT) AS partner_xor,
           CAST(SUM(partner) AS BIGINT) AS partner_sum,
           CAST(SUM(hamming) AS BIGINT) AS hamming_sum
    FROM sym GROUP BY doc_id ORDER BY doc_id
    """,
    doc=f"SimHash near-dup, BOUNDED output: the same pigeonhole block-join "
    f"pair set as q_dedup_simhash (hamming ≤ {SIM_RADIUS}) folded to one row "
    "per involved document — partner count, order-independent bit_xor and "
    "sum checksums of partner ids, hamming total. The pair set is verified "
    "through exact integer aggregates while the output stays ≤ n_docs rows "
    "at every scale: on the sf1 soak fixture (where replication makes every "
    "doc a 10-way exact duplicate and pair rows square past the driver's "
    "maxResultSize) this is the full-row-hashable form of the family.",
)
def q_dedup_simhash_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Round-7 dup-collapse at FINGERPRINT level (SCALING.md): dist-0 docs
    # are exactly the docs sharing a simhash VALUE, so the pigeonhole block
    # join runs over distinct fingerprints and the per-doc aggregates expand
    # analytically (same fold as the grouped levenshtein: intra-group pairs
    # contribute hamming-0 terms, neighbor groups contribute group-size-
    # weighted sums, xors fold over group xors). The replicated soak fixture
    # makes every doc a 10-way duplicate — the copy-pair join did 100x the
    # candidate work for aggregates derivable from value-group stats
    # (measured 29.6 s at sf1; distinct-fingerprint volume is constant
    # there). The all-pairs DuckDB oracle is unchanged.
    simh = _simhash_table(spark, sf_dir)
    groups = scoped_cache(
        simh.groupBy("simhash").agg(
            F.count(F.lit(1)).cast("bigint").alias("gsz"),
            F.sum("doc_id").cast("bigint").alias("id_sum"),
            F.expr("bit_xor(doc_id)").cast("bigint").alias("id_xor"),
        )
    )
    vblocks = (
        groups.select("simhash")
        .withColumn("blk", F.explode(F.sequence(F.lit(0), F.lit(SIM_BLOCKS - 1))))
        .withColumn(
            "blk_val",
            F.expr(
                f"(simhash >> (blk * {SIM_BLOCK_BITS})) & {(1 << SIM_BLOCK_BITS) - 1}"
            ),
        )
    )
    a = vblocks.alias("a")
    b = vblocks.alias("b")
    hamming = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    vpairs = (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.blk_val") == F.col("b.blk_val"))
            & (F.col("a.simhash") < F.col("b.simhash")),
        )
        .select(
            F.col("a.simhash").alias("val_a"),
            F.col("b.simhash").alias("val_b"),
            hamming.cast("bigint").alias("hamming"),
        )
        .distinct()  # a value pair may share several blocks
        .filter(F.col("hamming") <= SIM_RADIUS)
    )
    # both directions in one pass (in-row explode, same idiom as the pair
    # twin — a unionAll would re-execute the block join per branch)
    sym_v = vpairs.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("val_a").alias("val"),
                    F.col("val_b").alias("nb_val"),
                    F.col("hamming"),
                ),
                F.struct(
                    F.col("val_b").alias("val"),
                    F.col("val_a").alias("nb_val"),
                    F.col("hamming"),
                ),
            )
        ).alias("e")
    ).select("e.*")
    nbg = groups.select(
        F.col("simhash").alias("nb_val"),
        F.col("gsz").alias("nb_gsz"),
        F.col("id_sum").alias("nb_id_sum"),
        F.col("id_xor").alias("nb_id_xor"),
    )
    neigh = (
        sym_v.join(nbg, "nb_val")
        .groupBy("val")
        .agg(
            F.sum("nb_gsz").cast("bigint").alias("nb_cnt"),
            F.sum("nb_id_sum").cast("bigint").alias("nb_sum"),
            F.expr("bit_xor(nb_id_xor)").cast("bigint").alias("nb_xor"),
            F.sum(F.col("nb_gsz") * F.col("hamming")).cast("bigint").alias("nb_hsum"),
        )
        .withColumnRenamed("val", "simhash")
    )
    return (
        simh.join(groups, "simhash")
        .join(neigh, "simhash", "left")
        .select(
            "doc_id",
            ((F.col("gsz") - 1) + F.coalesce(F.col("nb_cnt"), F.lit(0)))
            .cast("bigint")
            .alias("n_dups"),
            (
                F.col("id_xor")
                .bitwiseXOR(F.col("doc_id"))
                .bitwiseXOR(F.coalesce(F.col("nb_xor"), F.lit(0)))
            )
            .cast("bigint")
            .alias("partner_xor"),
            ((F.col("id_sum") - F.col("doc_id")) + F.coalesce(F.col("nb_sum"), F.lit(0)))
            .cast("bigint")
            .alias("partner_sum"),
            F.coalesce(F.col("nb_hsum"), F.lit(0)).cast("bigint").alias("hamming_sum"),
        )
        .filter(F.col("n_dups") > 0)
        .orderBy("doc_id")
    )


# Embedding cosine near-dup over quantized integer vectors.
#
# Cross-engine float math hazard: DuckDB's double→DECIMAL cast re-rounds via a
# double multiply by 10^scale while Spark expands the exact binary value, so
# at high decimal scales the two casts disagree on ~1% of float32-derived
# products (observed, tests/test_oracle_parity.py history). Instead we
# quantize each float32 component to an integer at 2^22 — scaling by a power
# of TWO is exact in IEEE arithmetic, round() of identical doubles is
# identical — and compute dot products in pure int64 (|q| < 2^23 ⇒ 64-element
# dot < 2^52, no overflow). Cosine over the quantized vectors differs from
# float cosine by < 1e-6, which is noise for near-dup semantics, and it is
# bit-identical across engines and cluster sizes.
COS_THRESHOLD = 0.30
Q_SCALE = 4194304  # 2^22

SQL_QVEC = "list_transform({a}, x -> CAST(round(CAST(x AS DOUBLE) * 4194304) AS BIGINT))"
SQL_QDOT = "CAST(list_sum(list_transform(list_zip({qa}, {qb}), x -> x[1] * x[2])) AS BIGINT)"
SQL_QNORM = "sqrt(CAST(list_sum(list_transform({qa}, x -> x * x)) AS BIGINT))"

SPARK_QVEC = "transform({a}, x -> CAST(round(CAST(x AS DOUBLE) * 4194304) AS BIGINT))"
SPARK_QDOT = (
    "aggregate(zip_with({qa}, {qb}, (x,y) -> x * y), CAST(0 AS BIGINT), (acc,v) -> acc + v)"
)
SPARK_QNORM = (
    "sqrt(aggregate(transform({qa}, x -> x * x), CAST(0 AS BIGINT), (acc,v) -> acc + v))"
)


def spark_cosine_expr(a: str, b: str) -> str:
    qa, qb = SPARK_QVEC.format(a=a), SPARK_QVEC.format(a=b)
    return (
        f"CAST({SPARK_QDOT.format(qa=qa, qb=qb)} AS DOUBLE) / "
        f"({SPARK_QNORM.format(qa=qa)} * {SPARK_QNORM.format(qa=qb)})"
    )


def spark_cosine_prequantized(qa: str, qb: str, na: str, nb: str) -> str:
    """Cosine over pre-quantized bigint arrays + precomputed norms — same
    IEEE op sequence as spark_cosine_expr/sql_cosine_expr (dot→double,
    divide by norm product), so results stay bit-identical while each
    vector is quantized and normed once instead of once per pair."""
    return f"CAST({SPARK_QDOT.format(qa=qa, qb=qb)} AS DOUBLE) / ({na} * {nb})"


def sql_cosine_expr(a: str, b: str) -> str:
    qa, qb = SQL_QVEC.format(a=a), SQL_QVEC.format(a=b)
    return (
        f"CAST({SQL_QDOT.format(qa=qa, qb=qb)} AS DOUBLE) / "
        f"({SQL_QNORM.format(qa=qa)} * {SQL_QNORM.format(qa=qb)})"
    )


@register(
    "q_text_decontaminate",
    oracle=f"""
    WITH {_SQL_SHINGLES},
    eval_sh AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 97 = 0),
    hits AS (
      SELECT s.doc_id, COUNT(*) AS n_shared_shingles
      FROM sh s JOIN eval_sh e ON e.shingle = s.shingle
      WHERE s.doc_id % 97 <> 0
      GROUP BY s.doc_id
    )
    SELECT doc_id, CAST(n_shared_shingles AS BIGINT) AS n_shared_shingles
    FROM hits
    ORDER BY doc_id
    """,
    doc="Benchmark decontamination: flag training docs sharing any 3-token "
    "shingle with the held-out eval slice (docs with doc_id % 97 = 0 stand "
    "in for a benchmark set). No forced broadcast on the eval shingle set "
    "(r8 audit): the stand-in slice is 1/97 OF THE CORPUS, so a mandatory "
    "broadcast hits the 8 GB cap at high SF even though a real benchmark "
    "set is eval-sized — AQE broadcasts it at runtime while it measures "
    "small (plan-asserted post-execution) and falls back to a shingle-"
    "keyed shuffle join past the threshold; the corpus is scanned once "
    "and shuffled only by doc_id for the count — the exact-dedup shape.",
)
def q_text_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    sh = _shingles(d)
    eval_sh = sh.filter(F.col("doc_id") % 97 == 0).select("shingle").distinct()
    corpus = sh.filter(F.col("doc_id") % 97 != 0)
    return (
        corpus.join(eval_sh, "shingle")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared_shingles"))
        .orderBy("doc_id")
    )


# Shared oracle text for the cosine family: SRP-bucketed candidate pairs
# with the exact quantized cosine AND the exact int64 dot product (the
# grouped twin aggregates qdot — summing the cosine doubles would be
# order-dependent and engine-divergent; integer dot sums are exact).
_SQL_COSINE_PAIRS = f"""e AS MATERIALIZED (
      SELECT vec_id, label, embedding, {sql_srp_bucket("embedding")} AS bucket
      FROM embeddings
    ),
    cpairs AS (
      SELECT x.vec_id AS vec_a, y.vec_id AS vec_b,
             x.label AS label_a, y.label AS label_b,
             {sql_cosine_expr("x.embedding", "y.embedding")} AS cosine,
             {SQL_QDOT.format(qa=SQL_QVEC.format(a="x.embedding"), qb=SQL_QVEC.format(a="y.embedding"))} AS qdot
      FROM e x JOIN e y ON y.bucket = x.bucket AND x.vec_id < y.vec_id
      WHERE {sql_cosine_expr("x.embedding", "y.embedding")} >= {COS_THRESHOLD}
    )"""


def _cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SRP-bucketed near-dup pairs with exact cosine + int64 dot — the
    shared core of q_dedup_embedding_cosine and its grouped twin."""
    # cached: quantize + norm + SRP hash run once per vector, not once per
    # side of the bucket self-join
    e = scoped_cache(
        spread(load_table(spark, sf_dir, "embeddings"))
        .select("vec_id", "label", "embedding")
        .withColumn("qv", F.expr(SPARK_QVEC.format(a="embedding")))
        .withColumn("nrm", F.expr(SPARK_QNORM.format(qa="qv")))
        .withColumn("bucket", F.expr(spark_srp_bucket("embedding")))
        .drop("embedding")
    )
    a, b = e.alias("a"), e.alias("b")
    cos = F.expr(spark_cosine_prequantized("a.qv", "b.qv", "a.nrm", "b.nrm"))
    qdot = F.expr(SPARK_QDOT.format(qa="a.qv", qb="b.qv"))
    return (
        a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.col("a.label").alias("label_a"),
            F.col("b.label").alias("label_b"),
            cos.alias("cosine"),
            qdot.cast("bigint").alias("qdot"),
        )
        .filter(F.col("cosine") >= COS_THRESHOLD)
    )


@register(
    "q_dedup_embedding_cosine",
    oracle=f"""
    WITH {_SQL_COSINE_PAIRS}
    SELECT vec_a, vec_b, label_a, label_b, cosine FROM cpairs
    ORDER BY vec_a, vec_b
    """,
    doc="Embedding near-dup over the FULL table: SRP-LSH buckets (operators/"
    "srp.py, 8 deterministic hyperplane sign bits) generate candidates via a "
    "bucket equi-join — ~1/2^8 of the pairs an all-pairs join would score — "
    "then the exact quantized cosine (DECIMAL dot products, bitwise equal "
    "across engines) keeps pairs ≥ 0.30. The oracle runs the identical "
    "bucketing, so the gate checks the whole candidate+verify pipeline. "
    "This is the 100 TB plan itself, not a demo slice of it: each vector is "
    "quantized, normed, and hashed once; the join shuffles on bucket id.",
)
def q_dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _cosine_pairs(spark, sf_dir).drop("qdot").orderBy("vec_a", "vec_b")


@register(
    "q_dedup_embedding_cosine_grouped",
    oracle=f"""
    WITH {_SQL_COSINE_PAIRS},
    sym AS (
      SELECT vec_a AS vec_id, vec_b AS partner, qdot FROM cpairs
      UNION ALL
      SELECT vec_b AS vec_id, vec_a AS partner, qdot FROM cpairs
    )
    SELECT vec_id,
           CAST(COUNT(*) AS BIGINT) AS n_dups,
           CAST(bit_xor(partner) AS BIGINT) AS partner_xor,
           CAST(SUM(partner) AS BIGINT) AS partner_sum,
           CAST(SUM(qdot) AS BIGINT) AS qdot_sum
    FROM sym GROUP BY vec_id ORDER BY vec_id
    """,
    doc="Embedding near-dup, BOUNDED output: the q_dedup_embedding_cosine "
    "pair set folded to one row per involved vector — partner count, "
    "order-independent bit_xor and sum checksums of partner ids, and the "
    "exact int64 dot-product total (summing the cosine doubles would be "
    "order-dependent across partitionings and engines; integer dot sums "
    "commute exactly). Output stays ≤ n_vectors rows at every scale, so "
    "the standard full-row hash gate covers this family on the sf1 soak "
    "fixture where raw pair rows blow the driver's maxResultSize.",
)
def q_dedup_embedding_cosine_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = _cosine_pairs(spark, sf_dir)
    # one pass over the bucket join: in-row explode of both directions
    sym = pairs.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("vec_a").alias("vec_id"),
                    F.col("vec_b").alias("partner"),
                    F.col("qdot"),
                ),
                F.struct(
                    F.col("vec_b").alias("vec_id"),
                    F.col("vec_a").alias("partner"),
                    F.col("qdot"),
                ),
            )
        ).alias("e")
    ).select("e.*")
    return (
        sym.groupBy("vec_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_dups"),
            F.expr("bit_xor(partner)").cast("bigint").alias("partner_xor"),
            F.sum("partner").cast("bigint").alias("partner_sum"),
            F.sum("qdot").cast("bigint").alias("qdot_sum"),
        )
        .orderBy("vec_id")
    )


from .text import SQL_WINNOW_FP, winnow_fingerprints  # noqa: E402


@register(
    "q_dedup_winnow_overlap",
    oracle=f"""
    WITH {SQL_WINNOW_FP},
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM wfp GROUP BY doc_id),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
      FROM wfp a JOIN wfp b ON a.sel = b.sel AND a.doc_id < b.doc_id
      GROUP BY doc_a, doc_b
    )
    SELECT p.doc_a, p.doc_b,
           CAST(p.n_shared AS BIGINT) AS n_shared,
           CAST(p.n_shared AS DOUBLE) / least(sa.n, sb.n) AS containment
    FROM pairs p
    JOIN sizes sa ON sa.doc_id = p.doc_a
    JOIN sizes sb ON sb.doc_id = p.doc_b
    WHERE p.n_shared >= 3
    ORDER BY doc_a, doc_b
    """,
    doc="Local-fingerprint near-dup (the MOSS/winnowing use case): document "
    "pairs sharing >= 3 winnowing-selected fingerprints, scored by "
    "containment (shared / smaller fingerprint set). Same inverted-index "
    "self-join shape as the shingle Jaccard dedup but over the winnowed "
    "set — ~w x smaller index for the same guaranteed substring-match "
    "sensitivity, which is exactly what makes local fingerprinting the "
    "scale choice for detecting long copied passages (vs MinHash's "
    "whole-document similarity).",
)
def q_dedup_winnow_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Round-7 dup-collapse (SCALING.md): identical texts have identical
    # winnowed fingerprint SETS (no df interplay here, unlike the jaccard
    # family), so the sel self-join runs over exact-dup group reps and the
    # pair set expands back to copies — cross-group pairs reordered with
    # least/greatest (copy ids need not sort like reps; n_shared and
    # min-size containment are symmetric), intra-group x < y pairs carrying
    # n_shared = |fingerprints| at containment exactly 1.0, gated on the
    # oracle's own n_shared >= 3 floor. sf1 -> sf3 scaled 10.8x before the
    # collapse (copy-pair join squares in the duplication factor).
    # spread(): the in-row fingerprint build is CPU-heavy per row; a small
    # single-file scan would run it on one core (no-op at real scale)
    d = spread(load_table(spark, sf_dir, "documents"))
    keyed = d.select("doc_id", F.md5("text").alias("h"))
    groups = keyed.groupBy("h").agg(
        F.min("doc_id").alias("rep"), F.count(F.lit(1)).alias("gsz")
    )
    members = scoped_cache(keyed.join(groups, "h").select("doc_id", "rep"))
    reps = d.join(groups.select(F.col("rep").alias("doc_id")), "doc_id")
    fp = scoped_cache(winnow_fingerprints(reps))
    sizes = scoped_cache(fp.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n")))
    a, b = fp.alias("a"), fp.alias("b")
    rep_pairs = (
        a.join(b, (F.col("a.sel") == F.col("b.sel")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("rep_a"), F.col("b.doc_id").alias("rep_b"))
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= 3)
    )
    sa, sb = sizes.alias("sa"), sizes.alias("sb")
    scored = (
        rep_pairs.join(sa, F.col("rep_a") == F.col("sa.doc_id"))
        .join(sb, F.col("rep_b") == F.col("sb.doc_id"))
        .select(
            "rep_a",
            "rep_b",
            F.col("n_shared").cast("bigint").alias("n_shared"),
            (
                F.col("n_shared").cast("double")
                / F.least(F.col("sa.n"), F.col("sb.n"))
            ).alias("containment"),
        )
    )
    ma = members.select(F.col("rep").alias("rep_a"), F.col("doc_id").alias("x"))
    mb = members.select(F.col("rep").alias("rep_b"), F.col("doc_id").alias("y"))
    cross = (
        scored.join(ma, "rep_a")
        .join(mb, "rep_b")
        .select(
            F.least("x", "y").alias("doc_a"),
            F.greatest("x", "y").alias("doc_b"),
            "n_shared",
            "containment",
        )
    )
    eligible = sizes.filter(F.col("n") >= 3).select(
        F.col("doc_id").alias("rep"), F.col("n")
    )
    grp = members.join(eligible, "rep")
    intra = (
        grp.select("rep", "n", F.col("doc_id").alias("doc_a"))
        .join(grp.select("rep", F.col("doc_id").alias("doc_b")), "rep")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            F.col("n").cast("bigint").alias("n_shared"),
            F.lit(1.0).alias("containment"),
        )
    )
    return cross.unionByName(intra).orderBy("doc_a", "doc_b")


PASSAGE_TOKENS = 20  # exact-dedup chunk width (tokens)


@register(
    "q_dedup_passage",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ts FROM documents
    ), chunks AS (
      SELECT doc_id,
             unnest(list_transform(range(0, CAST(ceil(len(ts) / {PASSAGE_TOKENS}.0) AS BIGINT)),
               i -> struct_pack(
                 idx := i,
                 passage := array_to_string(
                   list_slice(ts, i * {PASSAGE_TOKENS} + 1, (i + 1) * {PASSAGE_TOKENS}), ' '))))
               AS u
      FROM tok
    ), hashed AS (
      SELECT doc_id, {SQL_MD5_LONG.format(x="u.passage")} % {MOD_P} AS passage_hash
      FROM chunks
    )
    SELECT passage_hash,
           COUNT(DISTINCT doc_id) AS n_docs,
           COUNT(*) AS n_occurrences,
           CAST(MIN(doc_id) AS BIGINT) AS first_doc
    FROM hashed
    GROUP BY passage_hash
    HAVING COUNT(*) >= 2
    ORDER BY passage_hash
    """,
    doc=f"Passage-level exact dedup (the chunk-granularity C4/RefinedWeb "
    f"pass): documents split into fixed {PASSAGE_TOKENS}-token passages "
    "in-row, passages hashed, and every passage occurring more than once "
    "in the corpus reported with its document spread. Catches copied "
    "passages inside otherwise-distinct documents, which document-level "
    "exact dedup (q_dedup_exact) cannot see. One shuffle on the passage "
    "hash — the same linear scale shape as exact dedup, at ~n_tokens/"
    f"{PASSAGE_TOKENS} keys.",
)
def q_dedup_passage(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    ts = tokens("text")
    n_chunks = F.ceil(F.size(ts) / float(PASSAGE_TOKENS)).cast("int")
    passages = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.concat_ws(" ", F.slice(ts, i * PASSAGE_TOKENS + 1, PASSAGE_TOKENS)),
    )
    hashed = d.select(
        "doc_id", F.explode(passages).alias("passage")
    ).select("doc_id", (md5_long(F.col("passage")) % MOD_P).alias("passage_hash"))
    return (
        hashed.groupBy("passage_hash")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occurrences"),
            F.min("doc_id").cast("bigint").alias("first_doc"),
        )
        .filter(F.col("n_occurrences") >= 2)
        .orderBy("passage_hash")
    )


INC_DROP_FRAC = 0.5  # drop an incoming doc when >= 50% of its passages are known


@register(
    "q_dedup_incremental",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, text, string_split_regex(trim(text), '\\s+') AS ts FROM documents
    ), chunks AS (
      SELECT doc_id,
             unnest(list_transform(range(0, CAST(ceil(len(ts) / {PASSAGE_TOKENS}.0) AS BIGINT)),
               i -> {SQL_MD5_LONG.format(x=f"array_to_string(list_slice(ts, i * {PASSAGE_TOKENS} + 1, (i + 1) * {PASSAGE_TOKENS}), ' ')")} % {MOD_P}))
               AS passage_hash
      FROM tok
    ), newp AS (
      SELECT DISTINCT doc_id, passage_hash FROM chunks WHERE doc_id % 10 = 7
    ), oldp AS (
      SELECT DISTINCT passage_hash FROM chunks WHERE doc_id % 10 <> 7
    ), content AS (
      SELECT doc_id, md5(text) AS ch FROM tok
    ), oldc AS (SELECT DISTINCT ch FROM content WHERE doc_id % 10 <> 7),
    per_doc AS (
      SELECT n.doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_passages,
             CAST(COUNT(o.passage_hash) AS BIGINT) AS n_seen
      FROM newp n LEFT JOIN oldp o ON o.passage_hash = n.passage_hash
      GROUP BY n.doc_id
    )
    SELECT p.doc_id,
           CAST(CASE WHEN c.ch IN (SELECT ch FROM oldc) THEN 1 ELSE 0 END AS BIGINT)
             AS exact_dup,
           p.n_passages, p.n_seen,
           CAST(CASE WHEN c.ch IN (SELECT ch FROM oldc)
                       OR p.n_seen >= {INC_DROP_FRAC} * p.n_passages
                     THEN 1 ELSE 0 END AS BIGINT) AS drop_doc
    FROM per_doc p JOIN content c ON c.doc_id = p.doc_id
    ORDER BY p.doc_id
    """,
    doc="Incremental batch-vs-corpus dedup — the PRODUCTION dedup shape: an "
    "incoming batch (10% of docs stand in for new data) is checked against "
    "the existing corpus index, never corpus-vs-corpus. Two asymmetric "
    "probes: exact content hash membership, and the fraction of the "
    "incoming doc's passages already present (drop at >= 50% — catches "
    "re-crawls with boilerplate churn that exact hashing misses). Both "
    "probes join the SMALL batch side against the big index on hash keys; "
    "at 100 TB the index is a materialized table and only the batch "
    "rescans — O(batch), not O(corpus), per ingest.",
)
def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    ts = tokens("text")
    n_chunks = F.ceil(F.size(ts) / float(PASSAGE_TOKENS)).cast("int")
    passages = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: md5_long(
            F.concat_ws(" ", F.slice(ts, i * PASSAGE_TOKENS + 1, PASSAGE_TOKENS))
        )
        % MOD_P,
    )
    hashed = d.select("doc_id", F.explode(passages).alias("passage_hash"))
    is_new = F.col("doc_id") % 10 == 7
    newp = hashed.filter(is_new).distinct()
    oldp = hashed.filter(~is_new).select("passage_hash").distinct()
    content = d.select("doc_id", F.md5("text").alias("ch"))
    oldc = content.filter(~is_new).select("ch").distinct()
    per_doc = (
        newp.join(oldp.withColumn("seen", F.lit(1)), "passage_hash", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_passages"),
            F.count("seen").cast("bigint").alias("n_seen"),
        )
    )
    exact = F.when(F.col("ch_old").isNotNull(), 1).otherwise(0).cast("bigint")
    return (
        per_doc.join(content.filter(is_new), "doc_id")
        .join(
            F.broadcast(oldc.select(F.col("ch").alias("ch_old")).distinct()),
            F.col("ch") == F.col("ch_old"),
            "left",
        )
        .select(
            "doc_id",
            exact.alias("exact_dup"),
            "n_passages",
            "n_seen",
            F.when(
                (F.col("ch_old").isNotNull())
                | (F.col("n_seen") >= INC_DROP_FRAC * F.col("n_passages")),
                1,
            )
            .otherwise(0)
            .cast("bigint")
            .alias("drop_doc"),
        )
        .orderBy("doc_id")
    )


@register(
    "q_dedup_minhash_calibration",
    oracle=f"""
    WITH {_SQL_SHINGLES},
    hashed AS (SELECT doc_id, {_SQL_BASE_HASH} AS h FROM sh),
    sig AS (
      SELECT doc_id, i,
             MIN(((2*i + 1) * h + 7919 * i) % {MOD_P}) AS mh
      FROM hashed, range(0, {MH_K}) r(i)
      GROUP BY doc_id, i
    ),
    bands AS (
      SELECT doc_id, i // {MH_ROWS} AS band,
             md5(array_to_string(list(mh ORDER BY i), ',')) AS band_key
      FROM sig GROUP BY doc_id, band
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
    ),
    est AS (
      SELECT c.doc_a, c.doc_b,
             CAST(SUM(CASE WHEN sa.mh = sb.mh THEN 1 ELSE 0 END) AS BIGINT) AS n_match
      FROM cand c
      JOIN sig sa ON sa.doc_id = c.doc_a
      JOIN sig sb ON sb.doc_id = c.doc_b AND sb.i = sa.i
      GROUP BY c.doc_a, c.doc_b
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    verified AS (
      SELECT c.doc_a, c.doc_b, COUNT(s2.shingle) AS n_shared
      FROM cand c
      JOIN sh s1 ON s1.doc_id = c.doc_a
      LEFT JOIN sh s2 ON s2.doc_id = c.doc_b AND s2.shingle = s1.shingle
      GROUP BY c.doc_a, c.doc_b
    ),
    pairs AS (
      SELECT e.n_match,
             CAST(v.n_shared AS BIGINT) AS n_shared,
             CAST(sa.n + sb.n - v.n_shared AS BIGINT) AS n_union,
             CAST(v.n_shared AS DOUBLE) / (sa.n + sb.n - v.n_shared) AS j
      FROM est e
      JOIN verified v ON v.doc_a = e.doc_a AND v.doc_b = e.doc_b
      JOIN sizes sa ON sa.doc_id = e.doc_a
      JOIN sizes sb ON sb.doc_id = e.doc_b
    )
    SELECT n_match,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(n_shared) AS BIGINT) AS sum_shared,
           CAST(SUM(n_union) AS BIGINT) AS sum_union,
           MIN(j) AS min_jaccard,
           MAX(j) AS max_jaccard
    FROM pairs GROUP BY n_match ORDER BY n_match
    """,
    doc=f"MinHash estimator calibration: over the SAME sub-quadratic LSH "
    f"candidate set as q_dedup_minhash_lsh, count matching signature "
    f"permutations per pair (the estimator: E[n_match/{MH_K}] = Jaccard) "
    "and fold against the EXACT shingle Jaccard into one row per "
    f"agreement level (≤ {MH_K + 1} rows at any corpus size). The tuning "
    "table a dedup operator reads before picking band/row/threshold "
    "parameters: micro-averaged exact Jaccard per level falls out of the "
    "exact integer sums (sum_shared / sum_union), and the min/max spread "
    "shows the estimator's tail. All aggregates are exact bigints or "
    "single int-to-double divisions (cross-engine portable); the only "
    "additional cost over the LSH query is one signature self-join on the "
    "bounded candidate set.",
)
def q_dedup_minhash_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spread(load_table(spark, sf_dir, "documents"))
    sh = scoped_cache(_shingles(d))
    hashed = sh.select("doc_id", (md5_long(F.col("shingle")) % MOD_P).alias("h"))
    sig = scoped_cache(
        hashed.groupBy("doc_id").agg(
            *[
                F.min(((2 * i + 1) * F.col("h") + 7919 * i) % MOD_P).alias(f"mh{i}")
                for i in range(MH_K)
            ]
        )
    )
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.md5(
                F.concat_ws(
                    ",", *[F.col(f"mh{b * MH_ROWS + r}") for r in range(MH_ROWS)]
                )
            ).alias("band_key"),
        )
        for b in range(MH_BANDS)
    ]
    bands = sig.select("doc_id", F.explode(F.array(*band_structs)).alias("bb")).select(
        "doc_id", F.col("bb.band").alias("band"), F.col("bb.band_key").alias("band_key")
    )
    a = bands.alias("a")
    b = bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    # estimator: in-row comparison of the two wide signatures — MH_K integer
    # equality checks in codegen per candidate pair, no explode
    siga = sig.alias("siga")
    sigb = sig.alias("sigb")
    n_match = sum(
        (F.col(f"siga.mh{i}") == F.col(f"sigb.mh{i}")).cast("int") for i in range(MH_K)
    ).cast("bigint")
    est = (
        cand.join(siga, F.col("doc_a") == F.col("siga.doc_id"))
        .join(sigb, F.col("doc_b") == F.col("sigb.doc_id"))
        .select("doc_a", "doc_b", n_match.alias("n_match"))
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    s1 = sh.alias("s1")
    s2 = sh.alias("s2")
    inter = (
        cand.join(s1, F.col("doc_a") == F.col("s1.doc_id"))
        .join(
            s2,
            (F.col("doc_b") == F.col("s2.doc_id"))
            & (F.col("s1.shingle") == F.col("s2.shingle")),
            "left",
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.col("s2.shingle")).alias("n_shared"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    n_union = (F.col("sa.n") + F.col("sb.n") - F.col("n_shared")).cast("bigint")
    pairs = (
        est.join(inter, ["doc_a", "doc_b"])
        .join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .select(
            "n_match",
            F.col("n_shared").cast("bigint").alias("n_shared"),
            n_union.alias("n_union"),
            (F.col("n_shared").cast("double") / n_union).alias("j"),
        )
    )
    return (
        pairs.groupBy("n_match")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.sum("n_shared").cast("bigint").alias("sum_shared"),
            F.sum("n_union").cast("bigint").alias("sum_union"),
            F.min("j").alias("min_jaccard"),
            F.max("j").alias("max_jaccard"),
        )
        .orderBy("n_match")
    )
