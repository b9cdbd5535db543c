"""BPE merge training — the tokenizer-training loop as a distributed job.

The byte-pair-encoding training algorithm (Sennrich et al. 2016, the
algorithm behind GPT/Llama tokenizers): repeatedly (1) count every adjacent
symbol pair in the corpus, (2) pick the most frequent pair, (3) merge every
left-to-right non-overlapping occurrence of it into a single symbol. Here
symbols start as whitespace tokens (word-level BPE — the merge dynamics are
identical to byte-level, without needing byte fixtures).

Scale shape, per merge round:
- pair counting is ONE map-side-combinable groupBy over in-row adjacent
  pairs (``arrays_zip`` of the token array with its own tail — no
  positional explode of the corpus into (doc, pos) rows);
- the argmax is a ``TakeOrdered`` (orderBy + limit 1) — only the single
  winning pair ever reaches the driver, exactly like k-means centroid
  seeds (operators/kmeans.py);
- the merge itself is a document-local in-row fold (``F.aggregate``):
  append each token to an accumulator, fusing it with the accumulator's
  last element whenever the two spell the winning pair. Greedy
  left-to-right semantics fall out of the fold order, and the
  self-overlap case (run of identical symbols, pair (a,a)) is handled
  for free: a freshly merged symbol is the space-joined pair text, which
  can never equal the bare left symbol, so "aaa" merges positions 1-2
  and leaves 3 — the reference greedy behavior.
- the corpus is re-cached each round; the previous round's cache is
  unpersisted as soon as the next count pass has materialized the new one,
  so at most two round-caches are ever live (the rest stay registered with
  scoped_cache only so a late release_caches() is a harmless no-op).

Merge rounds are BATCHED: instead of one count-job per merge (O(V) Spark
jobs at a 32k-merge production vocab — the round-3 scale caveat), each
count pass selects the longest prefix of the count-sorted pair list that
is pairwise symbol-disjoint, truncated to counts strictly above the first
excluded pair's, and applies the whole batch in one in-row pass. That
prefix is provably greedy-equivalent:

- merging a pair cannot change the count of any symbol-disjoint pair, so
  every batched pair still holds its count when its sequential turn comes;
- for a merge of (a, b) with a ≠ b, every created pair ((x, "a b"),
  ("a b", y), ("a b", "a b")) has count bounded by a pre-merge pair
  sharing a symbol with the merged one — and every symbol-sharing pair
  sits at or after the prefix terminator, so its count (hence the new
  pair's) is ≤ the terminator's;
- truncating the batch to counts STRICTLY above the terminator's means no
  created pair can tie a batched pair and steal its (cnt, l, r) tie-break;
- a SELF-pair (a, a) breaks that argument: its merge creates pairs over
  only {a, "a a"} (("a a", "a a"), ("a a", a)) whose counts are bounded
  by the self-pair's own count — which is INSIDE the batch, above the
  terminator — so a created pair can out-rank later batched pairs
  (observed: "a"x10 makes ("a a","a a") count 4, tying and tie-break-
  beating a disjoint (c, d) count 4). Self-pairs therefore only ever
  merge as a SINGLETON batch: first-place self-pairs return alone, and a
  later self-pair terminates the batch in front of it.

So sequential greedy must pick exactly the batch, in batch order. Job
count drops from O(V) to O(V / batch); `tests/test_bpe.py` pins merge-table
equality between batch_max=1 and batch_max=8 trainers on adversarial
corpora (disjoint tops, conflicting ties, self-pair runs — including the
self-pair-creates-a-tying-pair case above) and hypothesis-checks the batch
selector's prefix/disjoint/strict-count invariants.

The DuckDB oracle replays the same rounds with a COMPLETELY different
algorithm — positional rows, window-function pair detection, and
gaps-and-islands parity for the self-overlap runs — making this a strong
cross-engine check in the spirit of q_dedup_components (label propagation
vs recursive-CTE closure).

Reference scope: the reference repo has no tokenizer layer; this operator
belongs to the beyond-reference training-data-pipeline surface (SURVEY.md
§6) alongside dedup/sampling/packing.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table, spread
from ..plans.queries import register, scoped_cache
from .text import tokens

N_MERGES = 6


def _adjacent_pairs(corpus: DataFrame) -> DataFrame:
    """(l, r, cnt) for every adjacent symbol pair in the corpus — built
    in-row (zip of the array with its own tail), one combinable groupBy."""
    ts = F.col("ts")
    zipped = F.arrays_zip(
        F.slice(ts, 1, F.size(ts) - 1).alias("l"),
        F.slice(ts, 2, F.size(ts) - 1).alias("r"),
    )
    return (
        corpus.select(F.explode(zipped).alias("p"))
        .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def _apply_merge(left: str, right: str) -> Column:
    """Token array with every greedy left-to-right (left, right) adjacency
    fused into one space-joined symbol — document-local, O(len) per doc.

    When left != right (every realistic winner), two pair-starts can never
    be adjacent, so greedy == "merge at every start, drop every position
    whose predecessor is a start" — a linear filter + transform over the
    index sequence with no sequential state. The accumulator fold (which
    copies the whole accumulator array per token, O(len²) per document —
    fine at fixture lengths, hostile to 4k-token documents at corpus
    scale) is kept only for the left == right case, where runs of the
    symbol need the sequential consumed-position chain."""
    ts = F.col("ts")
    if left == right:
        return F.aggregate(
            ts,
            F.array().cast("array<string>"),
            lambda acc, x: F.when(
                (F.size(acc) > 0)
                & (F.element_at(acc, -1) == F.lit(left))
                & (x == F.lit(right)),
                F.concat(
                    F.slice(acc, 1, F.size(acc) - 1),
                    F.array(F.concat(F.element_at(acc, -1), F.lit(" "), x)),
                ),
            ).otherwise(F.concat(acc, F.array(x))),
        )
    n = F.size(ts)

    def tok(i: Column) -> Column:
        return F.get(ts, i)

    def start_at(i: Column) -> Column:
        return (i < n - 1) & (tok(i) == F.lit(left)) & (tok(i + F.lit(1)) == F.lit(right))

    kept = F.filter(
        F.sequence(F.lit(0), n - 1),
        lambda i: ~((i > 0) & start_at(i - F.lit(1))),
    )
    merged = F.transform(
        kept,
        lambda i: F.when(
            start_at(i), F.concat(tok(i), F.lit(" "), tok(i + F.lit(1)))
        ).otherwise(tok(i)),
    )
    return F.when(n > 0, merged).otherwise(F.array().cast("array<string>"))


BATCH_MAX = 8  # per-round merge batch cap (bounds in-row expression depth)


def _safe_batch(rows: list, limit: int) -> list[tuple[str, str, int]]:
    """The greedy-equivalent batch from ``rows`` (count-sorted (l, r, cnt)
    candidates): the longest pairwise-symbol-disjoint prefix, truncated to
    counts strictly above the first excluded pair's (see module docstring
    for the equivalence argument). ``rows`` longer than needed acts as its
    own terminator; the top-1 pair alone is always a valid fallback."""
    batch: list[tuple[str, str, int]] = []
    used: set[str] = set()
    excluded_cnt: int | None = None
    for row in rows:
        l, r, cnt = row.l, row.r, int(row.cnt)
        if len(batch) >= limit or l in used or r in used or (l == r and batch):
            excluded_cnt = cnt
            break
        batch.append((l, r, cnt))
        if l == r:
            # self-pair: the pairs its merge creates are bounded by ITS
            # count (in-batch, above any terminator), so nothing may merge
            # alongside it — singleton batch, and no truncation needed
            # because it is the round's undisputed top-1
            return batch
        used.add(l)
        used.add(r)
    if excluded_cnt is not None:
        batch = [(l, r, c) for l, r, c in batch if c > excluded_cnt]
        if not batch:  # top-2 conflict AND tie — single-merge round
            row = rows[0]
            batch = [(row.l, row.r, int(row.cnt))]
    return batch


def train(
    corpus: DataFrame, n_merges: int = N_MERGES, batch_max: int = BATCH_MAX
) -> tuple[list[tuple], DataFrame]:
    """Run ``n_merges`` BPE merges over ``corpus`` (doc_id, ts) and return
    ([(rank, left, right, count), ...], final_corpus). Each Spark job
    harvests a provably greedy-equivalent BATCH of up to ``batch_max``
    merges (module docstring), so job count is O(n_merges / batch) — only
    the candidate pair rows (≤ batch_max + 1 per round) ever reach the
    driver; the corpus never leaves the cluster."""
    corpus = scoped_cache(corpus)
    prev: DataFrame | None = None
    merges: list[tuple] = []
    while len(merges) < n_merges:
        room = min(batch_max, n_merges - len(merges))
        rows = (
            _adjacent_pairs(corpus)
            .orderBy(F.desc("cnt"), "l", "r")
            .limit(room + 1)  # +1: the terminator that bounds created pairs
            .collect()
        )
        # the count pass above materialized the current round-cache, so the
        # previous round's blocks are now dead weight — release them (they
        # stay in the scoped-cache registry; double unpersist is a no-op)
        if prev is not None:
            prev.unpersist()
        if not rows:  # corpus merged down to single-symbol docs
            break
        batch = _safe_batch(rows, room)
        cur = corpus
        for l, r, cnt in batch:
            merges.append((len(merges) + 1, l, r, cnt))
            # disjoint pairs: the nested in-row passes commute, and Catalyst
            # collapses the per-merge projects into one map stage
            cur = cur.select("doc_id", _apply_merge(l, r).alias("ts"))
        prev = corpus
        corpus = scoped_cache(cur)
    return merges, corpus


def train_merges(
    corpus: DataFrame, n_merges: int = N_MERGES, batch_max: int = BATCH_MAX
) -> list[tuple]:
    """Merge table only — see :func:`train`."""
    return train(corpus, n_merges, batch_max)[0]


def _oracle_sql(n_merges: int = N_MERGES) -> str:
    """Chained-CTE replay: positional rows, LEAD() pair detection, and
    gaps-and-islands parity for self-overlapping (a,a) runs."""
    parts = [
        """
    tok AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ts FROM documents
    ),
    c0 AS MATERIALIZED (
      SELECT doc_id, u.pos AS pos, u.tok AS tok FROM (
        SELECT doc_id,
               unnest(list_transform(range(1, len(ts) + 1),
                                     i -> struct_pack(pos := i, tok := ts[i]))) AS u
        FROM tok
      )
    )"""
    ]
    for k in range(1, n_merges + 1):
        p, c = f"c{k - 1}", f"c{k}"
        parts.append(
            f"""
    cnt{k} AS MATERIALIZED (
      SELECT l, r, COUNT(*) AS cnt FROM (
        SELECT tok AS l, LEAD(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS r
        FROM {p}
      ) WHERE r IS NOT NULL GROUP BY l, r
    ),
    win{k} AS MATERIALIZED (SELECT l, r, cnt FROM cnt{k} ORDER BY cnt DESC, l, r LIMIT 1),
    st{k} AS (  -- pair-start positions; LEFT JOIN (not CROSS) so an empty
                -- win{k} (corpus merged out before round {k}) passes the
                -- corpus through unchanged, mirroring Spark's train() break
      SELECT c.doc_id, c.pos, c.tok,
             COALESCE(c.tok = w.l
                      AND LEAD(c.tok) OVER (PARTITION BY c.doc_id ORDER BY c.pos) = w.r,
                      FALSE) AS is_start
      FROM {p} c LEFT JOIN win{k} w ON TRUE
    ),
    isl{k} AS (  -- islands of CONSECUTIVE pair-starts (only possible when l = r)
      SELECT *, CASE WHEN is_start
                     THEN pos - ROW_NUMBER() OVER (PARTITION BY doc_id, is_start ORDER BY pos)
                END AS isl
      FROM st{k}
    ),
    act{k} AS (  -- greedy left-to-right = odd positions within each island
      SELECT *, is_start
                AND ROW_NUMBER() OVER (PARTITION BY doc_id, isl ORDER BY pos) % 2 = 1
                AS active
      FROM isl{k}
    ),
    {c} AS MATERIALIZED (
      SELECT doc_id,
             ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS pos,
             CASE WHEN active THEN tok || ' ' || nxt ELSE tok END AS tok
      FROM (
        SELECT *, LEAD(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt,
               LAG(active) OVER (PARTITION BY doc_id ORDER BY pos) AS prev_active
        FROM act{k}
      )
      WHERE prev_active IS DISTINCT FROM TRUE  -- drop consumed right halves
    )"""
        )
    return "WITH" + ",".join(parts)


def _oracle_merge_table(n_merges: int = N_MERGES) -> str:
    finals = "\n    UNION ALL ".join(
        f"SELECT {k} AS merge_rank, l AS left_sym, r AS right_sym, cnt AS pair_count FROM win{k}"
        for k in range(1, n_merges + 1)
    )
    return _oracle_sql(n_merges) + f"\n    {finals}\n    ORDER BY merge_rank"


def _oracle_encoded_counts(n_merges: int = N_MERGES) -> str:
    return (
        _oracle_sql(n_merges)
        + f"""
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_symbols,
           CAST(SUM(CASE WHEN tok LIKE '% %' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_merged_symbols,
           CAST(MAX(len(string_split(tok, ' '))) AS BIGINT) AS longest_symbol_words
    FROM c{n_merges}
    GROUP BY doc_id
    ORDER BY doc_id"""
    )


@register(
    "q_bpe_train_merges",
    oracle=_oracle_merge_table(),
    doc=f"BPE merge training, {N_MERGES} rounds: count adjacent symbol "
    "pairs (one combinable groupBy per round), take the global argmax "
    "(TakeOrdered — one row to the driver), fuse every greedy occurrence "
    "in-row, repeat. The oracle replays the rounds with positional window "
    "functions and gaps-and-islands parity — a different algorithm "
    "reaching the same merge table.",
)
def q_bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread(): the per-round fold is CPU-heavy per row; a small single-file
    # scan would run it on one core (no-op at real scale)
    d = spread(load_table(spark, sf_dir, "documents"))
    merges = train_merges(d.select("doc_id", tokens("text").alias("ts")))
    return spark.createDataFrame(
        [(r, l, rt, int(c)) for r, l, rt, c in merges],
        "merge_rank int, left_sym string, right_sym string, pair_count bigint",
    ).orderBy("merge_rank")

@register(
    "q_bpe_encode",
    oracle=_oracle_encoded_counts(),
    doc=f"BPE encoding: apply the {N_MERGES} learned merges to the corpus "
    "(each an in-row greedy fold, map-only) and report per-document "
    "compression — symbol count after merging, how many symbols are "
    "multi-word merges, and the longest merged symbol. The encode pass is "
    "embarrassingly parallel at any corpus size: the merge table is "
    "driver-small, the folds never shuffle, and only the per-doc counts "
    "aggregate. Oracle replays the identical chain with window functions.",
)
def q_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spread(load_table(spark, sf_dir, "documents"))
    _, corpus = train(d.select("doc_id", tokens("text").alias("ts")))
    return (
        corpus.select("doc_id", F.explode("ts").alias("tok"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_symbols"),
            F.sum(F.when(F.col("tok").contains(" "), 1).otherwise(0))
            .cast("bigint")
            .alias("n_merged_symbols"),
            F.max(F.size(F.split(F.col("tok"), " ", -1)))
            .cast("bigint")
            .alias("longest_symbol_words"),
        )
        .orderBy("doc_id")
    )
