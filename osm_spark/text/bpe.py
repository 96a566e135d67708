"""Distributed BPE tokenizer training + encoding (classic Sennrich
semantics), engine-reproducible.

The last tokenizer-adjacent gap after X49's vocabulary statistics:
actually TRAINING a byte-pair-encoding merge table over the corpus and
ENCODING documents with it. Semantics are the classic ones
(Sennrich et al. 2016; the GPT-2 trainer shape):

- pair counting is per adjacent POSITION (a word ``aaa`` contributes 2
  to pair ``(a, a)``) weighted by word frequency;
- the winning pair each round is ``(count DESC, left ASC, right ASC)``
  — a total order, so the merge table is deterministic at any
  parallelism and reproducible in any engine;
- applying a merge is greedy left-to-right NON-overlapping
  (``a a a a`` + merge ``(a,a)`` → ``aa aa``; ``a a a`` → ``aa a``),
  implemented as ONE ``F.aggregate`` fold over the symbol array — the
  identical fold runs in DuckDB as ``list_reduce`` with a
  delimiter-encoded string accumulator, and q101/q102 pin the two
  engines hash-equal.

Scale shape (the 100-TB view):

- The only corpus-scale pass is the word-count reduction: one explode
  + one map-side-combinable groupBy collapses 10^12 documents to the
  word-TYPE table (Zipf: ~10^7 rows for a web corpus). Training never
  touches the corpus again.
- Each merge round is one small aggregate over the type table
  (positions explode → groupBy pair → TakeOrdered 1) plus one column
  rewrite; rounds are driver-coordinated like PageRank's (X47), with
  per-round persist/release so round k reads round k-1's cache, not
  its lineage. K rounds = K small shuffles over the type table —
  independent of corpus size.
- Encoding uses the same Zipf dedup: encode each DISTINCT word once,
  then broadcast-join the word→pieces dictionary back to the corpus
  and reassemble per document ordered by word position. Up to
  ``chunk_size`` merges the dictionary is built by literal-specialized
  Catalyst folds (no Python in the loop). Production merge counts
  (256–32k) cannot ride Catalyst expressions (the guarded fold tree
  doubles per merge; staged chunked projections were measured to OOM),
  so past ``chunk_size`` the dictionary is built by an Arrow-batched
  Python kernel over the distinct-word table: the rank-order greedy
  merge loop with the same contains() guard, which keeps Zipf-tail
  words from paying K merges of CPU. Still corpus-size-independent,
  pinned against the python twin at K=256 (test_bpe).

No reference analog (pmezard/osm has no text pipeline); SURVEY
§2-ext X65. Oracles: q101 re-trains the whole merge table in DuckDB
(unrolled per-round CTEs, the q81/q91 pattern); q102 re-trains AND
re-encodes every document, hash-exact.
"""

from __future__ import annotations

from typing import Callable, Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from osm_spark.text.analysis import tokens_col

__all__ = [
    "chars_col",
    "merge_fold",
    "word_counts",
    "bpe_train",
    "encode_word_col",
    "bpe_encode",
]


def chars_col(word: Column | str) -> Column:
    """Symbol array of a word: its characters (the BPE base alphabet).

    Tokens come from the engine-wide tokenizer (lowercase ``[a-z0-9]``
    runs), so every symbol is a non-empty ASCII string — the fold's
    ``''`` pending-sentinel and space joiner below are unambiguous.
    """
    c = F.col(word) if isinstance(word, str) else word
    return F.filter(F.split(c, ""), lambda t: t != "")


def merge_fold(syms: Column, left: str, right: str) -> Column:
    """Apply ONE merge ``(left, right)`` greedily left-to-right,
    non-overlapping, to a symbol array — classic BPE application.

    One ``F.aggregate`` fold: the accumulator is
    ``struct(res: string, p: string)`` where ``res`` is the
    space-joined output so far and ``p`` the pending (not yet emitted)
    symbol; a merge consumes the pending symbol so the merged token
    can never be the LEFT side of another merge in the same round
    (``a a a`` → ``aa a``, not ``aa a`` then re-merge). DuckDB runs
    the identical fold via ``list_reduce`` (see ``_duck_fold`` in
    ``__spark_entry__``), which is how q101/q102 pin the semantics
    across engines.
    """
    merged = left + right

    def step(acc: Column, x: Column) -> Column:
        return F.when(
            (acc["p"] == F.lit(left)) & (x == F.lit(right)),
            F.struct(
                F.concat(acc["res"], F.lit(" " + merged)).alias("res"),
                F.lit("").alias("p"),
            ),
        ).otherwise(
            F.struct(
                F.when(acc["p"] == "", acc["res"])
                .otherwise(F.concat(acc["res"], F.lit(" "), acc["p"]))
                .alias("res"),
                x.alias("p"),
            )
        )

    def fin(acc: Column) -> Column:
        full = F.when(acc["p"] == "", acc["res"]).otherwise(
            F.concat(acc["res"], F.lit(" "), acc["p"])
        )
        return F.filter(F.split(full, " "), lambda t: t != "")

    return F.aggregate(
        syms,
        F.struct(F.lit("").alias("res"), F.lit("").alias("p")),
        step,
        fin,
    )


def word_counts(
    docs: DataFrame, text: str = "text", key: str = "doc_id"
) -> DataFrame:
    """(word, freq) over the corpus — the single corpus-scale pass.

    One explode + one map-side-combinable groupBy; everything after
    this operates on word TYPES (Zipf-compressed), never the corpus.
    """
    return (
        docs.select(F.explode(tokens_col(text)).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
    )


def bpe_train(
    docs: DataFrame,
    n_merges: int = 8,
    text: str = "text",
    key: str = "doc_id",
    min_freq: int = 1,
    checkpoint_every: int = 16,
) -> DataFrame:
    """Train ``n_merges`` BPE merges; returns a DataFrame
    ``(merge_rank, left_sym, right_sym, pair_count)`` ordered by rank.

    Driver-coordinated rounds over the persisted word-type table (the
    X47 PageRank loop pattern): each round one position-explode pair
    count → deterministic argmax ``(count DESC, left ASC, right ASC)``
    → one greedy fold column rewrite. Stops early if no pair with
    ``pair_count >= 2`` occurrences remains (merging a pair seen once
    per round is never useful and would make small-corpus training
    nondeterministic only in uninteresting tails — the cutoff is part
    of the contract and mirrored by the q101 oracle's unroll guard).

    ``checkpoint_every``: eager localCheckpoint of the type table every
    K rounds — the persist/count per round fills caches but does NOT
    truncate the logical plan, and at production merge counts (256+,
    VERDICT r4 next #7) 256 nested conditional-fold projections make
    Catalyst analysis itself the bottleneck. Truncation caps plan
    depth at ``checkpoint_every`` rewrites (the pagerank hook).
    """
    spark = docs.sparkSession
    words = (
        word_counts(docs, text=text, key=key)
        .where(F.col("freq") >= F.lit(min_freq))
        .select("word", "freq", chars_col("word").alias("syms"))
        .persist()
    )
    words.count()

    # Pair counts live on the DRIVER across rounds: the pair universe
    # is bounded by (|alphabet| + n_merges)^2 — ~2k entries, manifest-
    # scale JSON, not data. One full pair-count aggregate seeds it;
    # each round then updates it from the AFFECTED words only (words
    # with the winning pair adjacent) — all other words keep their
    # pair multiset verbatim, so the incremental counts are EXACTLY
    # the recount (pinned by the q101 oracle, which re-trains with
    # full per-round recounts in DuckDB). This replaces the old
    # per-round full 20M-row pair shuffle + full-table fold with one
    # affected-only delta aggregate + one conditional-fold rewrite
    # (measured: train8 over 2.7M types dropped 40.3 s → see
    # BENCH.md r4 notes).
    _pairs_expr = (
        "transform(sequence(0, size(syms)-2),"
        " i -> struct(syms[i] AS l, syms[i+1] AS r))"
    )
    seed = (
        words.where(F.size("syms") >= 2)
        .select("freq", F.explode(F.expr(_pairs_expr)).alias("pr"))
        .groupBy(F.col("pr.l").alias("l"), F.col("pr.r").alias("r"))
        .agg(F.sum("freq").alias("cnt"))
        .collect()
    )
    pc: dict[tuple[str, str], int] = {(row["l"], row["r"]): int(row["cnt"]) for row in seed}

    merges: list[tuple[int, str, str, int]] = []
    prev: DataFrame | None = None
    try:
        for rank in range(1, n_merges + 1):
            if not pc:
                break
            # same total order as the old ORDER BY cnt DESC, l, r
            (l, r), cnt = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
            if cnt < 2:
                break
            merges.append((rank, l, r, cnt))

            # CASE (not AND) so single-symbol words never evaluate the
            # sequence(0, -1) arm — CASE is guaranteed lazy per row
            adj = F.expr(
                f"CASE WHEN size(syms) >= 2 THEN"
                f" exists(sequence(0, size(syms)-2),"
                f" i -> syms[i] = '{l}' and syms[i+1] = '{r}')"
                f" ELSE false END"
            )
            new_syms = merge_fold(F.col("syms"), l, r)
            # delta over affected words only: old pairs at -freq, new
            # pairs at +freq, one small groupBy (pair universe ~2k)
            affected = words.where((F.size("syms") >= 2) & adj).select(
                "freq", "syms", new_syms.alias("nsyms")
            )
            signed = (
                "CASE WHEN size({a}) >= 2 THEN"
                " transform(sequence(0, size({a})-2),"
                " i -> struct({a}[i] AS l, {a}[i+1] AS r,"
                " CAST({w} AS BIGINT) AS w))"
                " ELSE CAST(array() AS array<struct<l:string,r:string,w:bigint>>)"
                " END"
            )
            delta = (
                affected.select(
                    F.explode(
                        F.concat(
                            F.expr(signed.format(a="syms", w="-freq")),
                            F.expr(signed.format(a="nsyms", w="freq")),
                        )
                    ).alias("d")
                )
                .groupBy(F.col("d.l").alias("l"), F.col("d.r").alias("r"))
                .agg(F.sum("d.w").alias("w"))
                .collect()
            )
            for row in delta:
                k2 = (row["l"], row["r"])
                nv = pc.get(k2, 0) + int(row["w"])
                if nv:
                    pc[k2] = nv
                else:
                    pc.pop(k2, None)

            nxt = words.withColumn(
                "syms", F.when(adj, new_syms).otherwise(F.col("syms"))
            )
            if checkpoint_every and rank % checkpoint_every == 0:
                # lineage truncation: materializes AND stores (caching
                # layer), so no persist needed on this round
                nxt = nxt.localCheckpoint(eager=True)
            else:
                nxt = nxt.persist()
            # ONE Spark job per round: the NEXT round's delta collect
            # scans nxt (filling its cache as a side effect), so no
            # separate count() is needed — but the superseded frame
            # must outlive that scan, hence the one-round deferred
            # release (the pagerank pattern; halves round latency,
            # measured 368 s → see BENCH.md r5 bpe_train256 notes).
            if prev is not None:
                prev.unpersist()
            prev = words
            words = nxt
    finally:
        if prev is not None:
            prev.unpersist()
        words.unpersist()

    return spark.createDataFrame(
        merges, "merge_rank: int, left_sym: string, right_sym: string, pair_count: bigint"
    )


def _apply_merges(
    w: Column,
    syms: Column,
    merges: Sequence[tuple[str, str]],
    guarded: bool = True,
) -> Column:
    """Fold ``merges`` (in rank order) over an existing symbol array.
    Valid mid-sequence: the ``contains(word, left || right)`` guard
    tests the RAW word string, and adjacent symbols are contiguous
    substrings of the word at every stage.

    ``guarded=False`` drops the per-merge CASE guard: the fold is the
    IDENTITY when the pair is absent, so output is unchanged — and the
    expression tree grows LINEARLY in the merge count instead of
    doubling per merge (``when(c, fold(s)).otherwise(s)`` references
    ``s`` twice, so a 32-merge guarded chain is a 2³²-node TREE —
    measured analyzer OOM; runtime cost is fine, tree size is not).
    But unguarded folds RUN on every word: at K=256 over 2.7M types
    that is ~700M higher-order folds (measured: the encode stage
    crawls), while the guard's substring probe skips ~all of them for
    Zipf-tail words. So the production path keeps the guard and
    bounds the tree by CHUNKING at ≤8 merges per staged projection
    (2⁸·fold ≈ 15k nodes — the analyzer cost the historical K=8
    single-expression path already paid)."""
    for left, right in merges:
        folded = merge_fold(syms, left, right)
        if guarded:
            syms = F.when(w.contains(left + right), folded).otherwise(syms)
        else:
            syms = folded
    return syms


def encode_word_col(
    word: Column | str, merges: Sequence[tuple[str, str]]
) -> Column:
    """Symbol array of a word after applying ``merges`` in rank order
    — each merge a literal-specialized greedy fold (no Python).

    Each fold is guarded by ``contains(word, left || right)``: adjacent
    symbols are always CONTIGUOUS substrings of the word, so a word
    not containing the concatenation can never have the pair adjacent
    at any stage — the guard has no false negatives and the fold on a
    guarded-out word is the identity it would have computed anyway.
    The CASE short-circuits per row, so a Zipf-tail word that matches
    none of the merges pays k substring probes instead of k array
    folds."""
    w = F.col(word) if isinstance(word, str) else word
    return _apply_merges(w, chars_col(w), merges)


def bpe_encode(
    docs: DataFrame,
    merges: DataFrame | Sequence[tuple[str, str]],
    text: str = "text",
    key: str = "doc_id",
    mode: str = "auto",
    chunk_size: int = 8,
) -> DataFrame:
    """Encode every document with a trained merge table; returns
    ``(key, n_words, n_bpe_tokens, bpe_text)`` where ``bpe_text`` is
    the space-joined piece sequence in document order.

    Two physical strategies with identical output (pinned equal in
    tests; q102 is green under either):

    - ``direct``: fold every word occurrence in place —
      ``transform(tokens, w -> folds(chars(w)))`` — ZERO corpus-side
      shuffles, one embarrassingly-parallel pass. CPU grows with
      n_merges × occurrences.
    - ``dict``: encode each DISTINCT word once (Zipf), broadcast the
      word→pieces dictionary, join back on the exploded corpus,
      regroup per document. Pays explode + join + regroup over the
      corpus but folds only word TYPES — the only viable shape for a
      production 32k-merge vocabulary.

    ``auto`` picks dict: measured head-to-head at the bench's own
    operating point (1M pages, 73.9M tokens, 8 merges, local[32],
    two alternating reps each), dict encoded in 39-44 s vs direct's
    118-126 s — the per-type fold + one exchange beats 8 rounds of
    Catalyst array rewriting over every occurrence even at a merge
    count this small, so there is no measured regime where direct
    wins on wall-clock. ``direct`` is kept as the explicit
    zero-shuffle alternative for clusters where shuffle capacity
    (not CPU) is the binding resource.
    """
    if isinstance(merges, DataFrame):
        rows = merges.orderBy("merge_rank").collect()
        pairs = [(r["left_sym"], r["right_sym"]) for r in rows]
    else:
        pairs = list(merges)
    if mode == "auto":
        mode = "dict"
    if mode == "direct":
        return (
            docs.select(
                F.col(key), tokens_col(text).alias("toks")
            )
            .select(
                key,
                F.size("toks").alias("n_words"),
                F.flatten(
                    F.transform(
                        "toks", lambda w: encode_word_col(w, pairs)
                    )
                ).alias("all_pieces"),
            )
            .select(
                key,
                "n_words",
                F.size("all_pieces").alias("n_bpe_tokens"),
                F.array_join("all_pieces", " ").alias("bpe_text"),
            )
        )
    if mode != "dict":
        raise ValueError(f"mode must be auto|direct|dict, got {mode!r}")

    # Two projection-only scans of the corpus (dictionary pass +
    # encode pass) — deliberately NOT persisted: tokenization is a
    # cheap codegen projection, and a session-lifetime cache over the
    # full corpus is exactly the leak the r4 knn fix removed.
    toks = docs.select(F.col(key).alias("k"), tokens_col(text).alias("toks"))
    # Production merge counts (256–32k, VERDICT r4 next #7) cannot ride
    # Catalyst expressions at all: the guarded fold tree DOUBLES per
    # merge (analyzer OOM past ~20), the unguarded form runs K folds
    # on every type (measured: crawls), and staged chunked projections
    # either re-collapse or hold K/chunk stored dictionary copies
    # (measured: executor OOM). So past ``chunk_size`` merges the
    # dictionary is built by an ARROW-BATCHED kernel over the
    # DISTINCT-WORD table — the classic rank-order greedy merge loop
    # (the GPT-2 tokenizer shape), with the same contains() guard the
    # Catalyst fold uses. Word types are Zipf-bounded, so the python
    # loop is corpus-size-independent; output is pinned identical to
    # the Catalyst fold (test_bpe: modes at K=8, twin at K=256).
    dictionary = toks.select(F.explode("toks").alias("word")).distinct()
    if len(pairs) <= chunk_size:
        dictionary = dictionary.select(
            "word", encode_word_col("word", pairs).alias("pieces")
        )
    else:
        import pandas as pd

        def enc_batches(it):
            for pdf in it:
                out = []
                for w in pdf["word"]:
                    s = list(w)
                    for left, right in pairs:
                        # adjacent symbols are contiguous substrings of
                        # the word — same no-false-negative guard as
                        # encode_word_col's contains()
                        if left + right not in w:
                            continue
                        # greedy left-to-right, non-overlapping — the
                        # merge_fold semantics, exactly
                        s2, i = [], 0
                        while i < len(s):
                            if (
                                i + 1 < len(s)
                                and s[i] == left
                                and s[i + 1] == right
                            ):
                                s2.append(left + right)
                                i += 2
                            else:
                                s2.append(s[i])
                                i += 1
                        s = s2
                    out.append(s)
                yield pd.DataFrame({"word": pdf["word"], "pieces": out})

        dictionary = dictionary.mapInPandas(
            enc_batches, "word string, pieces array<string>"
        )
    exploded = toks.select("k", F.posexplode("toks").alias("pos", "word"))
    joined = exploded.join(F.broadcast(dictionary), "word")
    encoded = joined.groupBy("k").agg(
        F.flatten(
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "pieces"))),
                lambda s: s["pieces"],
            )
        ).alias("all_pieces")
    )
    # Left join from the full doc universe so zero-token documents
    # come back with empty encodings — no silent row loss (the
    # curation contract: every input row accounted for).
    base = toks.select("k", F.size("toks").alias("n_words"))
    return base.join(encoded, "k", "left").select(
        F.col("k").alias(key),
        "n_words",
        F.coalesce(F.size("all_pieces"), F.lit(0)).alias("n_bpe_tokens"),
        F.coalesce(F.array_join("all_pieces", " "), F.lit("")).alias("bpe_text"),
    )
