"""Byte-pair-encoding vocabulary TRAINING and encoding, Spark-first.

The reference suite's token counting (q37) uses a BPE-ish regex
pre-tokenizer; this module adds the real thing: learning the merge
table from the corpus itself — the step an LLM data pipeline runs once
per tokenizer revision, and the step that is corpus-scale-heavy (pair
counting touches every token occurrence).

Scale shape (the classic Sennrich et al. formulation, public
literature): the corpus collapses to its WORD HISTOGRAM first — one
explode + one groupBy, the only full-corpus pass — and every merge
round then runs on the histogram (vocabulary-sized: |distinct words|
rows, each weighted by its count), not the corpus.  Per round the
driver collects exactly ONE row (the argmax pair); the symbol-array
update is a JVM fold (CLAUDE.md's measured guidance: single-pass
array→array maps lose through Arrow), and lineage is truncated with
localCheckpoint every round, the connected-components discipline.

Merges are strictly sequential (round r+1's counts depend on round
r's merge), so rounds = num_merges — bounded by the vocab budget, not
the data.  Ties break on (count desc, left, right) so training is
deterministic; equality with a pure-Python reference implementation is
asserted in tests.
"""

from __future__ import annotations

import pandas as pd

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from ros_sql_spark.functions.pin import pin

__all__ = ["bpe_train", "bpe_encode", "bpe_train_reference"]


def _word_histogram(
    df: DataFrame, text_col: str, max_words: int | None
) -> DataFrame:
    """(word, n) — whitespace/lowercase word counts; optionally capped
    to the top-``max_words`` head (count desc, word asc — a
    deterministic cap so capped training is reproducible)."""
    words = (
        df.select(F.explode_outer(F.split(F.lower(text_col), " ")).alias("w"))
        .filter(F.col("w").isNotNull() & (F.col("w") != ""))
        .groupBy("w")
        .agg(F.count("*").alias("n"))
    )
    if max_words is not None:
        words = words.orderBy(F.desc("n"), F.asc("w")).limit(max_words)
    return words


def _apply_merges_expr(col: str, batch: list[tuple[str, str]]):
    """One greedy left-to-right pass applying every merge in ``batch``
    — plain JVM fold, exactly the reference semantics per rule.  Only
    ever called with a SAFE batch (pairwise symbol-disjoint incl.
    merged tokens — see the acceptance rule in :func:`bpe_train`), for
    which one combined pass is provably equal to applying the merges
    sequentially: rules reference disjoint symbols, so their match
    sites never overlap and no rule's output can feed another rule in
    the same pass.

    Writing the merged token l||r (≠ l unless r is empty) makes the
    no-re-merge guard implicit: element_at(acc, -1) equals ``l`` only
    when that element was NOT itself just written as a merged token.
    """

    def step(acc, s):
        expr = F.concat(acc, F.array(s))
        for left, right in batch:
            la, ra = F.lit(left), F.lit(right)
            expr = F.when(
                (F.size(acc) > 0)
                & (F.element_at(acc, -1) == la)
                & (s == ra),
                F.concat(
                    F.slice(acc, 1, F.size(acc) - 1),
                    F.array(F.concat(la, ra)),
                ),
            ).otherwise(expr)
        return expr

    return F.aggregate(col, F.array().cast("array<string>"), step)


def bpe_train(
    docs: DataFrame,
    text_col: str = "text",
    num_merges: int = 50,
    min_pair_count: int = 2,
    max_words: int | None = None,
    driver_histogram_budget: int | None = 2_000_000,
    batch_candidates: int = 64,
) -> list[tuple[str, str]]:
    """Learn ``num_merges`` BPE merges from the corpus; returns the
    ordered merge list [(left, right), ...].

    SCALE SHAPE (round-7 verdict directive): merges are sequential by
    definition, so a naive loop is one Spark job per merge — at a
    production vocab (32k merges) that is hours of pure coordination
    (~0.3 s/round driver floor) regardless of data size.  The word
    histogram after the single corpus-wide pass is |distinct words|
    rows — usually driver-sized — so the primary path collects it ONCE
    (one job; limit(budget+1) doubles as the size probe) and trains
    with the sequential reference trainer driver-side: O(1) Spark jobs
    for any number of merges, bit-identical by construction.

    Histograms too large to collect fall back to the distributed loop,
    which now batches provably-independent merges per round: after
    each pair count it collects the top-``batch_candidates`` rows and
    greedily accepts, in sort order (cnt desc, l, r — the reference
    tie-break), every next candidate that (a) shares no symbol with
    any accepted merge's {l, r, l+r} — including the merged token, so
    no accepted rule can feed another inside the combined pass — and
    (b) has a count STRICTLY above every pair the accepted merges
    could create (a created pair (x, l·r) inherits at most cnt(x, l),
    and (l·r, y) at most cnt(r, y) — both visible in the collected
    rows; the uncollected tail is bounded by the K-th count).  Under
    (a)+(b) the sequential trainer provably picks exactly these merges
    in exactly this order, so the batched loop stays bit-equal to the
    reference (property-tested) while doing ≥2 merges per round on
    typical Zipfian histograms.

    Stops early when the best pair's count falls below
    ``min_pair_count`` (merging singletons only memorizes words).
    ``max_words`` caps the histogram to its deterministic head —
    full-fidelity training passes None.  ``driver_histogram_budget=
    None`` forces the distributed loop (tests use it to exercise the
    fallback).
    """
    hist = _word_histogram(docs, text_col, max_words)

    if driver_histogram_budget is not None:
        # Pin the histogram BEFORE probing: the probe's action
        # materializes the checkpoint, so the too-large fallback reuses
        # it instead of re-running the corpus-wide pass a second time
        # for `cur`'s eager checkpoint (round-8 review finding).  The
        # fits-the-budget path pays only the histogram's own (vocab-
        # bounded) persistence on top of the pass it runs anyway.
        hist = pin(hist, eager=False)
        # one job: limit(n+1) both sizes and fetches — if the result
        # fits the budget we already hold the WHOLE histogram and the
        # sequential trainer finishes with zero further Spark work.
        head = hist.limit(driver_histogram_budget + 1).collect()
        if len(head) <= driver_histogram_budget:
            return bpe_train_reference(
                [(r["w"], r["n"]) for r in head],
                num_merges,
                min_pair_count,
            )
        # budget+1 Row objects (hundreds of MB at production budgets)
        # must not stay live through the whole training loop below
        del head

    # Distributed fallback.  chars: split("ab", "") -> [a, b].  Each
    # round is ONE job: the symbol update is a LAZY localCheckpoint —
    # the plan truncates to a LogicalRDD immediately (so
    # CollapseProject can never re-inline the nested fold projections;
    # cache() measured a quadratic recompute exactly that way) and the
    # next round's top-K collect is the action that materializes it.
    cur = pin(hist.select(
        F.split("w", "").alias("sym"), F.col("n")
    ), eager=True)

    merges: list[tuple[str, str]] = []
    while len(merges) < num_merges:
        pairs = (
            cur.select(
                F.explode_outer(
                    F.zip_with(
                        F.slice("sym", 1, F.size("sym") - 1),
                        F.slice("sym", 2, F.size("sym") - 1),
                        lambda a, b: F.struct(a.alias("l"), b.alias("r")),
                    )
                ).alias("p"),
                "n",
            )
            .filter(F.col("p").isNotNull())
            .groupBy("p.l", "p.r")
            .agg(F.sum("n").alias("cnt"))
        )
        rows = (
            pairs.orderBy(F.desc("cnt"), F.asc("l"), F.asc("r"))
            .limit(batch_candidates)
            .collect()
        )
        if not rows or rows[0]["cnt"] < min_pair_count:
            break
        # pairs NOT collected all have cnt <= the K-th collected
        # count, so a merge-created pair sourced from one of them is
        # bounded by it too.
        truncated = len(rows) == batch_candidates
        created_bound = rows[-1]["cnt"] if truncated else -1

        accepted: list[tuple[str, str]] = []
        used: set[str] = set()
        for row in rows:
            left, right, cnt = row["l"], row["r"], row["cnt"]
            if cnt < min_pair_count:
                break
            if len(merges) + len(accepted) >= num_merges:
                break
            if accepted:
                # interacting or order-unprovable: stop batching this
                # round entirely — later candidates' ranks can shift
                # once a skipped pair's count changes.
                if {left, right, left + right} & used:
                    break
                if cnt <= created_bound:
                    break
            accepted.append((left, right))
            used.update({left, right, left + right})
            # any pair the merge (l, r) creates inherits its count
            # from an existing (x, l) or (r, y) pair.
            for p in rows:
                if p["r"] == left or p["l"] == right:
                    created_bound = max(created_bound, p["cnt"])
        merges.extend(accepted)
        cur = pin(cur.select(
            _apply_merges_expr("sym", accepted).alias("sym"), "n"
        ), eager=False)
    return merges


def bpe_train_reference(
    word_counts: list[tuple[str, int]],
    num_merges: int,
    min_pair_count: int = 2,
) -> list[tuple[str, str]]:
    """Pure-Python sequential BPE trainer (Sennrich-style) used as the
    test oracle for :func:`bpe_train` — same tie-break, same greedy
    left-to-right merge."""
    syms = {w: list(w) for w, _ in word_counts}
    counts = dict(word_counts)
    merges: list[tuple[str, str]] = []
    for _ in range(num_merges):
        pc: dict[tuple[str, str], int] = {}
        for w, s in syms.items():
            n = counts[w]
            for i in range(len(s) - 1):
                pc[(s[i], s[i + 1])] = pc.get((s[i], s[i + 1]), 0) + n
        if not pc:
            break
        best = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        if best[1] < min_pair_count:
            break
        (l, r), _ = best
        merges.append((l, r))
        for w, s in syms.items():
            out: list[str] = []
            i = 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == l and s[i + 1] == r:
                    out.append(l + r)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            syms[w] = out
    return merges


def _encode_word(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """Apply merges by PRIORITY (lowest rank first) until none apply —
    the standard BPE encode (GPT-2-style loop, public algorithm)."""
    s = list(word)
    while len(s) > 1:
        best_i, best_rank = -1, None
        for i in range(len(s) - 1):
            r = ranks.get((s[i], s[i + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best_i, best_rank = i, r
        if best_rank is None:
            break
        s[best_i : best_i + 2] = [s[best_i] + s[best_i + 1]]
    return s


def bpe_encode(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, n_tok, n_chars) — encode each document with the learned
    merge table and count its BPE tokens.

    The merge table is driver-state (vocab-budget-bounded — tens of
    thousands of entries, never data-sized) shipped in the UDF closure;
    encoding is the priority-loop BPE algorithm per word, which is real
    compute per transferred byte — the Arrow pandas_udf regime
    (CLAUDE.md's measured boundary), unlike the single-pass folds that
    stay JVM-side."""
    ranks = {p: i for i, p in enumerate(merges)}

    @F.pandas_udf("long")
    def _n_tok(texts: pd.Series) -> pd.Series:
        def enc(t):
            if t is None:
                return 0
            total = 0
            for w in t.split(" "):
                if w:
                    total += len(_encode_word(w, ranks))
            return total

        return texts.map(enc)

    # Lowercase on the JVM side so train and encode share the EXACT
    # same case mapping — Python str.lower() can diverge from Java's
    # on locale-sensitive code points (dotted/dotless I under a Turkish
    # default locale), and then the encoder would see word forms the
    # trainer never counted (round-7 ADVICE).
    return docs.select(
        id_col,
        _n_tok(F.lower(F.col(text_col))).alias("n_tok"),
        F.length(text_col).cast("bigint").alias("n_chars"),
    )
