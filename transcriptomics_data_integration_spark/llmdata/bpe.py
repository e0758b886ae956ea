"""BPE merge training as relational algebra (Sennrich et al. 2016) —
the canonical tokenizer-training step of an LLM data pipeline, run
where the corpus lives instead of on a single machine.

Scale shape: the corpus collapses to the WORD-FREQUENCY table in one
aggregation (the only pass over raw text); every merge iteration then
operates on that bounded vocabulary relation — pair counting is an
index-explode + sum (map-side combined), the winning pair is a
distributed top-1 (TakeOrderedAndProject), and applying the merge is a
per-word left-greedy array fold in whole-stage codegen.  Nothing
iterates over the corpus and nothing touches the driver except the
1-row winner per merge.

Determinism: counts are integers, the winner tie-breaks on
(count DESC, left, right), and the greedy fold has a fixed
left-to-right order — every output is engine-exact, so the whole
training loop is hash-gateable against a DuckDB oracle (``bpe_merges``
in the suite) with the iteration unrolled into CTEs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from transcriptomics_data_integration_spark.runtime import register_persisted

# Per-iteration lineage pin for the trainers (r10 A/B, PLANS.md):
# True (default) localCheckpoint()s the bounded vocab relation each
# iteration, truncating its lineage to a scanned RDD.  This is NOT an
# optimization nicety — the A/B measured per-iteration cost DOUBLING
# under plain persist() (0.83 s at iter 10 -> 8.6 s at iter 15;
# n_merges=20 non-terminating at >270 s): each merge fold references
# its input column several times, so Catalyst's project collapsing
# substitutes the previous fold into every reference and the
# optimized expression grows EXPONENTIALLY in the iteration count.
# Truncation caps the visible plan at one fold — measured linear
# ~0.25 s/iteration through n_merges=50.  Cluster caveat: a
# localCheckpoint block lost to executor failure is not recomputable;
# for these vocab-bounded trainer relations the recovery story is
# "rerun the trainer", which is acceptable for a tokenizer-training
# job.  False restores persist() for A/B measurement.
ITER_TRUNCATE = True


def _iter_pin(df: DataFrame, prev: DataFrame | None = None) -> DataFrame:
    """Pin this iteration's relation; release the PREVIOUS iteration's
    checkpoint blocks once the new one has materialized (eager
    localCheckpoint), mirroring the ``register_persisted`` drain
    discipline — without this, n_merges iterations accumulate cached
    RDD blocks for the session's lifetime (ContextCleaner only frees
    them on JVM GC of the orphaned Dataset).  ``prev`` must be a
    DataFrame previously returned by this function's checkpoint arm."""
    if ITER_TRUNCATE:
        pinned = df.localCheckpoint()
        if prev is not None:
            _unpin(prev)
        return pinned
    df = df.persist()
    register_persisted(df)
    return df


def _unpin(cp_df: DataFrame) -> None:
    """Free a localCheckpoint'ed DataFrame's blocks NOW: the persisted
    RDD is the one wrapped by the plan's LogicalRDD node.  Safe only
    after every consumer of ``cp_df`` has materialized — the blocks are
    not recomputable.  Best-effort (internal API shape may vary)."""
    if not ITER_TRUNCATE:
        return
    try:
        cp_df._jdf.queryExecution().logical().rdd().unpersist(False)
    except Exception:
        pass


# r12 REVERT (do not re-attempt): r11 fed the trainers' corpus
# tokenize stage through a conditional repartition(defaultParallelism)
# guard (`_spread_input`), on the §2.5 one-split reasoning that won
# cosine_topk/flac_decode.  The r11 driver ground truth REFUTED it for
# the trainers and the bpe_encode apply stage — the work per row is
# too light and the pipelines are multi-stage, so the injected
# partition count taxes every downstream loop iteration:
#   unigram_train 2.7 -> 9.7 s and bpe_encode 1.9 -> 5.8 s at
#   local[32], both exactly flat at local[8] — the regression scales
#   with the partition count the guard itself injects (VERDICT r11).
# Local paired A/Bs could not even reproduce a stable sign (identical
# code spans 3.5-7.2 s across host windows; 6b7f3fd) — only the
# driver's two-core-count runs are reproducible, and they say: no
# spread here.  At lake scale the guard was a no-op anyway (many-split
# scans), so removal is scale-neutral; the tokenize stage simply runs
# on the scan's natural splits.


def _merge_fold(a_sql: str, b_sql: str, s: str = "s") -> str:
    """Left-greedy single-pair merge over the symbol array ``s``.
    An element produced by a merge can never re-match the pair's left
    side within the same pass (A || B == A would need B = ''), so the
    fold needs no just-merged flag."""
    return f"""CASE WHEN size({s}) <= 1 THEN {s} ELSE
aggregate(slice({s}, 2, size({s}) - 1), array(element_at({s}, 1)),
  (acc, x) -> CASE WHEN element_at(acc, -1) = {a_sql} AND x = {b_sql}
              THEN concat(slice(acc, 1, size(acc) - 1),
                          array(concat({a_sql}, {b_sql})))
              ELSE concat(acc, array(x)) END)
END"""


def bpe_train_fixed(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = 5,
) -> DataFrame:
    """Train ``n_merges`` BPE merges on the corpus; returns the merge
    table ``(merge_rank, lhs, rhs, merged, pair_count)`` — the
    artifact a tokenizer consumes, in learned order.

    Whitespace/alnum pre-tokenization (the repo's standard word rule),
    characters as initial symbols, no end-of-word marker (documented
    deviation from the classic formulation; add one by appending a
    sentinel symbol per word before training if needed).
    """
    toks = F.split(F.lower(F.col(text_col)), "[^a-z0-9]+")
    words = (
        df.select(F.explode(toks).alias("w"))
        .where(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("wc"))
    )
    syms = words.select(
        "wc",
        F.expr("transform(sequence(1, length(w)), i -> substring(w, i, 1))").alias(
            "s"
        ),
    ).persist()  # bounded: one row per distinct word (the vocabulary)
    register_persisted(syms)
    spark_for_result = df.sparkSession
    merge_rows = []
    prev_pin = None
    for r in range(1, n_merges + 1):
        pairs = (
            # size >= 2 guard matters: Spark's sequence(1, 0) DESCENDS
            # ([1, 0]) instead of being empty, so single-symbol words
            # would explode an out-of-range index under ANSI
            syms.where(F.size("s") >= 2)
            .select(
                "wc", F.explode(F.expr("sequence(1, size(s) - 1)")).alias("i"), "s"
            )
            .select(
                "wc",
                F.expr("element_at(s, i)").alias("a"),
                F.expr("element_at(s, i + 1)").alias("b"),
            )
            .groupBy("a", "b")
            .agg(F.sum("wc").alias("c"))
        )
        # the winner is ONE bounded row (the tokenizer artifact grows
        # one entry per merge): collect it and inline the pair as
        # LITERALS in the next fold.  Keeping the winner in-plan as a
        # crossJoin made iteration r's tree contain iteration r-1's
        # tree TWICE (once under syms, once under best) — an
        # EXPONENTIAL 2^r logical plan that stalled Catalyst tree
        # walks for minutes at n_merges=20 (r10 A/B, PLANS.md);
        # literal injection makes plan growth linear in n_merges.
        row = pairs.orderBy(F.col("c").desc(), F.col("a"), F.col("b")).limit(1).collect()
        if not row:
            break
        lhs, rhs, cnt = row[0]["a"], row[0]["b"], row[0]["c"]
        merge_rows.append((r, lhs, rhs, lhs + rhs, cnt))
        syms = _iter_pin(
            syms.withColumn("s", F.expr(_merge_fold(_sq(lhs), _sq(rhs)))),
            prev=prev_pin,
        )
        prev_pin = syms
    if prev_pin is not None:
        _unpin(prev_pin)  # the final pin is not read after the loop
    return spark_for_result.createDataFrame(
        merge_rows,
        "merge_rank int, lhs string, rhs string, merged string, pair_count bigint",
    )


def _sq(lit: str) -> str:
    return "'" + lit.replace("\\", "\\\\").replace("'", "\\'") + "'"


def bpe_encode(
    df: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    out_col: str = "bpe_tokens",
) -> DataFrame:
    """Apply a learned merge list to a corpus: per word, the same
    greedy fold replayed in learned order — one codegen expression per
    merge, zero shuffles, zero Python.  ``merges`` is the (lhs, rhs)
    list from :func:`bpe_train_fixed` (bounded: it is the tokenizer
    artifact, inlined as literals)."""
    toks = F.split(F.lower(F.col(text_col)), "[^a-z0-9]+")
    out = df.withColumn("_words", F.filter(toks, lambda w: w != ""))
    out = out.withColumn(
        "_syms",
        F.expr(
            "transform(_words, w -> "
            "transform(sequence(1, length(w)), i -> substring(w, i, 1)))"
        ),
    )
    for lhs, rhs in merges:
        fold = _merge_fold(_sq(lhs), _sq(rhs), s="ws")
        out = out.withColumn("_syms", F.expr(f"transform(_syms, ws -> {fold})"))
    return out.withColumn(out_col, F.expr("flatten(_syms)")).drop(
        "_words", "_syms"
    )


# --- Unigram-LM tokenizer (SentencePiece family, Kudo 2018) ------------
#
# Fixed-iteration HARD-EM (Viterbi) twin of the SentencePiece unigram
# trainer, in the repo's combat_eb2/logistic_irls2 discipline: a fixed
# number of EM iterations with a deterministic tie-break makes the
# whole training loop hash-gateable against a DuckDB oracle.
# Documented deviations from Kudo 2018 (both standard simplifications):
# hard-EM (Viterbi counts) instead of lattice forward-backward
# expected counts, and usage-pruning (pieces unused by any best
# segmentation drop) instead of likelihood-delta pruning.  Coverage is
# guaranteed the same way SentencePiece does it: every single
# character seen in the corpus stays in the vocabulary.
#
# FP discipline: piece scores are INTEGER micrologs —
# round(ln(count/total) * 1e6) as BIGINT — so the Viterbi DP sums and
# compares integers only; ln() is evaluated once per distinct count
# value and the 1e-6 grid absorbs last-ulp libm differences between
# the JVM and DuckDB.  Every output column is integer or string.
#
# Scale shape: the corpus collapses to the distinct-word frequency
# table in one aggregation (the only pass over raw text, exactly like
# bpe_train_fixed); every EM iteration runs on that bounded relation.
# The per-word Viterbi is ONE whole-stage-codegen aggregate() fold
# (string-packed DP states), and the piece table rides the plan as a
# 1-row map_from_entries relation cross-joined in — no driver collect
# anywhere.

UNIGRAM_MAX_WORD_LEN = 12
# the Viterbi state packs piece lengths as base-5 digits, so a length
# of 5 or more would alias its neighbours (lens [1,5] packs as [2,0])
UNIGRAM_MAX_PIECE_LEN = 4


def _check_max_piece_len(max_piece_len: int) -> None:
    if not 1 <= max_piece_len <= UNIGRAM_MAX_PIECE_LEN:
        raise ValueError(
            f"max_piece_len must be in 1..{UNIGRAM_MAX_PIECE_LEN} "
            f"(base-5 Viterbi lens pack), got {max_piece_len}"
        )


def _microlog_sql(x: str) -> str:
    """round(ln(x) * 1e6) as BIGINT — the integer log-prob grid."""
    return f"CAST(ROUND(LN(CAST({x} AS DOUBLE)) * 1000000, 0) AS BIGINT)"


def _unigram_words(df: DataFrame, text_col: str) -> DataFrame:
    """Distinct-word frequency table under the repo's standard word
    rule (lower, [^a-z0-9]+ split), capped at UNIGRAM_MAX_WORD_LEN
    chars — longer words are excluded from training statistics (a
    documented boundary mirrored by the oracle; production raises the
    cap, which only widens the DP fold)."""
    toks = F.split(F.lower(F.col(text_col)), "[^a-z0-9]+")
    return (
        df.select(F.explode(toks).alias("w"))
        .where((F.col("w") != "") & (F.length("w") <= UNIGRAM_MAX_WORD_LEN))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("wc"))
    )


def _unigram_dp_sql(max_piece_len: int) -> str:
    """The Viterbi fold: best segmentation of word column ``w`` under
    the piece-cost map column ``m`` (piece -> integer microcost);
    returns the best final state's piece-lengths string ("3-1-2"), or
    NULL when the word has no segmentation under the map.

    DP state per prefix length is ``struct(c: cost, n: n_pieces,
    lens: BIGINT base-5 pack)``; position i's best is the least() over
    the <= ``max_piece_len`` candidate extensions, each falling to a
    sentinel struct (cost 10^15, above any reachable cost — pieces are
    <= ~4e7 microcosts x <= UNIGRAM_MAX_WORD_LEN of them) when the
    piece is absent from the map.  Spark/DuckDB struct least()
    compares fields lexicographically: (min cost, fewest pieces,
    least lens pack) — EXACTLY the order of the r10 packed-string
    state ``lpad(cost,12) :: lpad(n,2) :: lens`` (fixed-width zero-
    padded non-negative decimal compares as the integer; at equal n
    the dash-string's positionwise digit comparison IS the big-endian
    base-5 numeric order of the pack — see the inline proof; the 'Z'
    sentinel sat above every packed state just as 10^15 sits above
    every reachable cost), so segmentations are bit-identical — the
    tie-break order is pinned by
    ``test_unigram_dp_struct_state_tiebreaks`` and regated at 3 SFs.
    The r11 struct form dropped the three per-candidate regex
    ``split()``s, the string->int casts and the lpad/concat packing of
    the string state; the r12 lens pack further replaces the
    per-extension lens string concat with one bigint multiply-add and
    string comparisons with bigint comparisons, unpacking to the
    public "3-1-2" form once per word in the finish lambda.  The
    absent-piece lookup is let-bound via ``transform(array(...))`` so
    it is evaluated once per candidate (the repo-standard binding
    against re-evaluation)."""

    def cand(l: int) -> str:
        prev = f"element_at(acc, i - {l - 1})"
        piece = f"substr(w, i - {l - 1}, {l})"
        return f"""transform(array(CASE WHEN i >= {l}
                                   THEN try_element_at(m, {piece}) END), mc ->
          CASE WHEN mc IS NOT NULL THEN
            named_struct('c', {prev}.c + mc, 'n', {prev}.n + 1,
              'lens', {prev}.lens * 5 + {l})
          ELSE named_struct('c', CAST(1000000000000000 AS BIGINT), 'n', 99,
                            'lens', CAST(NULL AS BIGINT)) END)[0]"""

    cands = ", ".join(cand(l) for l in range(1, max_piece_len + 1))
    # r12 lens pack (VERDICT r11 item 8): the per-extension lens STRING
    # concat ('' branch + '||' alloc/copy per candidate) becomes one
    # bigint multiply-add in base 5 (piece lengths are 1..4 and words
    # cap at 12 chars, so <= 12 digits < 5^12 ~ 2.4e8 — far inside
    # int64).  ORDER PROOF: lens only breaks ties at equal (c, n), and
    # equal n means equal piece count means equal dash-string length
    # (single-digit lengths), so the string comparison was positionwise
    # digit comparison — exactly the big-endian base-5 numeric order of
    # the packed value.  NULL (uncovered word) propagates through * and
    # + just as it did through '||'.  The one-per-word finish lambda
    # unpacks the digits back to the public "3-1-2" form with integer
    # div/mod (no float pow), so every consumer sees unchanged values —
    # re-pinned by test_unigram_dp_struct_state_tiebreaks (all-ties
    # adversarial map) and the 3-SF oracle gates.
    return f"""aggregate(
      sequence(1, length(w)),
      array(named_struct('c', CAST(0 AS BIGINT), 'n', 0,
                         'lens', CAST(0 AS BIGINT))),
      (acc, i) -> acc || array(least({cands})),
      acc -> CASE WHEN element_at(acc, -1).lens IS NULL THEN CAST(NULL AS STRING)
             ELSE aggregate(
               sequence(1, element_at(acc, -1).n),
               named_struct('p', element_at(acc, -1).lens,
                            'd', CAST(array() AS ARRAY<STRING>)),
               (st, k) -> named_struct('p', st.p DIV 5,
                                       'd', array_append(st.d, CAST(st.p % 5 AS STRING))),
               st -> array_join(reverse(st.d), '-')) END
    )"""


def _unigram_piece_map(pieces: DataFrame) -> DataFrame:
    """1-row (piece -> microcost) map relation, built in-plan (the
    vocabulary is the bounded tokenizer artifact)."""
    return pieces.agg(
        F.expr("map_from_entries(collect_list(struct(piece, cost_micro)))").alias("m")
    )


def _unigram_segment_words(
    words: DataFrame, pieces: DataFrame, max_piece_len: int
) -> DataFrame:
    """(w, wc, lens) — Viterbi-best piece-length string per word."""
    seg = (
        words.crossJoin(F.broadcast(_unigram_piece_map(pieces)))
        .withColumn("_best", F.expr(_unigram_dp_sql(max_piece_len)))
        .select("w", "wc", F.col("_best").alias("lens"))
    )
    return seg


def _unigram_used_counts(seg: DataFrame) -> DataFrame:
    """Explode best segmentations to (piece, count): piece k starts
    after the cumulative length of pieces 1..k-1.

    Plan shape (r11): the cumulative start offsets are a PREFIX SCAN
    over the per-word lens array — computed map-side by one
    ``aggregate`` fold that threads (next_start, pieces_so_far), then
    exploded straight into the piece aggregation.  The previous shape
    posexploded (w, k, l) rows and ran a per-word running-sum WINDOW —
    a full extra shuffle + sort on the word table PER EM ROUND for
    offsets that are a pure function of the row (guide §2.4).  Piece
    strings are identical (same substr(w, start, l) calls)."""
    pieces = F.expr(
        "aggregate(split(lens, '-'), "
        "named_struct('pos', 1, 'ps', CAST(array() AS ARRAY<STRING>)), "
        "(acc, x) -> named_struct("
        "'pos', acc.pos + CAST(x AS INT), "
        "'ps', array_append(acc.ps, substr(w, acc.pos, CAST(x AS INT)))), "
        "acc -> acc.ps)"
    )
    return (
        seg.select(F.explode(pieces).alias("piece"), "wc")
        .groupBy("piece")
        .agg(F.sum("wc").alias("count"))
    )


def unigram_train_fixed(
    df: DataFrame,
    text_col: str = "text",
    vocab_size: int = 40,
    max_piece_len: int = 4,
    n_iters: int = 2,
    n_seed: int = 120,
) -> DataFrame:
    """Train a unigram-LM tokenizer vocabulary; returns the piece table
    ``(piece, piece_len, count, cost_micro)`` — the artifact
    :func:`unigram_encode` consumes.  ``cost_micro`` is the integer
    microlog cost ``round(1e6 * ln(total/count))``.

    Steps (each relational, each on the bounded distinct-word table):
    seed = all substrings up to ``max_piece_len`` chars, keeping every
    single character plus the top ``n_seed`` multi-char candidates by
    (occurrence-weighted count DESC, piece ASC); then ``n_iters``
    hard-EM rounds (Viterbi segment -> usage counts -> re-score, with
    unused multi-char pieces dropping and characters floored at count
    1); finally prune to ``vocab_size`` = all characters + the top
    multi-char pieces by (count DESC, piece ASC) and re-score."""
    _check_max_piece_len(max_piece_len)
    words = _unigram_words(df, text_col).persist()
    register_persisted(words)

    # seed candidates: occurrence-weighted substring counts
    cand = (
        words.select(
            "wc",
            F.explode(
                F.expr(
                    f"flatten(transform(sequence(1, length(w)), i -> "
                    f"transform(sequence(1, least({max_piece_len}, length(w) - i + 1)), "
                    f"l -> substr(w, i, l))))"
                )
            ).alias("piece"),
        )
        .groupBy("piece")
        .agg(F.sum("wc").alias("count"))
    ).persist()
    register_persisted(cand)
    chars = cand.where(F.length("piece") == 1)
    multi = (
        cand.where(F.length("piece") >= 2)
        .orderBy(F.col("count").desc(), F.col("piece"))
        .limit(n_seed)
    )

    def _scored(p: DataFrame) -> DataFrame:
        # cost_micro = microlog(T) - microlog(count) over the kept set
        tot = p.agg(F.sum("count").alias("_t"))
        return (
            p.crossJoin(F.broadcast(tot))
            .select(
                "piece",
                F.length("piece").alias("piece_len"),
                "count",
                (
                    F.expr(_microlog_sql("_t")) - F.expr(_microlog_sql("count"))
                ).alias("cost_micro"),
            )
        )

    pieces = _scored(chars.unionByName(multi)).persist()
    register_persisted(pieces)

    for _ in range(n_iters):
        used = _unigram_used_counts(
            _unigram_segment_words(words, pieces, max_piece_len)
        )
        # characters keep coverage with a count floor of 1; unused
        # multi-char pieces drop
        merged = (
            chars.select("piece")
            .join(used, "piece", "full_outer")
            .select(
                "piece",
                F.when(
                    F.length("piece") == 1,
                    F.greatest(F.coalesce(F.col("count"), F.lit(0)), F.lit(1)),
                )
                .otherwise(F.col("count"))
                .alias("count"),
            )
            .where(F.col("count").isNotNull())
        )
        # localCheckpoint, not persist: _scored's 1-row total attach
        # nests tree(pieces_k) inside itself twice per EM round (the
        # same exponential-plan shape the r10 A/B caught in the merge
        # trainers); truncating the bounded vocab relation's lineage
        # keeps the plan O(1) per round.  Values unchanged — the
        # relation is materialized either way.
        pieces = _scored(merged).localCheckpoint()

    n_chars = chars.count()  # bounded scalar: the character inventory size
    kept_multi = (
        pieces.where(F.col("piece_len") >= 2)
        .orderBy(F.col("count").desc(), F.col("piece"))
        .limit(max(vocab_size - n_chars, 0))
        .select("piece", "count")
    )
    final = pieces.where(F.col("piece_len") == 1).select("piece", "count").unionByName(
        kept_multi
    )
    return _scored(final)


def unigram_encode(
    df: DataFrame,
    pieces: DataFrame,
    text_col: str = "text",
    max_piece_len: int = 4,
) -> DataFrame:
    """Apply a trained piece table: per document, Viterbi-segment every
    word (same DP, same tie-break as training) and report
    ``(n_tokens, n_chars_tok, n_multi_tokens)``.  The corpus joins the
    bounded word->segmentation map on the word key — the DP runs once
    per DISTINCT word, not per occurrence; the apply stage is one
    equi-join plus a map-side aggregation.

    Coverage precondition: every character of the encode corpus must
    appear in ``pieces`` (true whenever the piece table was trained on
    a superset corpus, as unigram_train always keeps all single
    characters).  A word containing an uncovered character has no
    valid segmentation — its Viterbi state resolves to the 'Z'
    sentinel, ``lens`` is NULL, and the word silently drops out of the
    per-doc sums, undercounting n_tokens/n_chars_tok.  Callers
    encoding out-of-domain text should diff ``sum(length(w))`` against
    ``n_chars_tok`` to detect uncovered words."""
    _check_max_piece_len(max_piece_len)
    toks = F.split(F.lower(F.col(text_col)), "[^a-z0-9]+")
    # r11 measured NEGATIVE (do not re-attempt): _spread_input here —
    # doc_words feeds TWO consumers (the distinct-word aggregation and
    # the final per-doc join), so the round-robin exchange re-executes
    # per branch and the A/B regressed 3.8 -> 5.4 s.
    # r12 (guide §5 persist-on-reuse): those two consumers each re-ran
    # the corpus regex split + explode — persist the narrow
    # (doc_id, w) relation so the corpus is tokenized ONCE per encode
    # (plan: 2 documents scans -> 1; VERDICT r11 item 6).  The relation
    # is token-count-sized; MEMORY_AND_DISK spills at lake scale, and a
    # 100 TB caller can swap the persist for a parquet materialization
    # without touching the join shape.
    doc_words = df.select(
        F.col("doc_id"), F.explode(toks).alias("w")
    ).where((F.col("w") != "") & (F.length("w") <= UNIGRAM_MAX_WORD_LEN)).persist()
    register_persisted(doc_words)
    words = doc_words.groupBy("w").agg(F.count(F.lit(1)).alias("wc"))
    seg = _unigram_segment_words(words, pieces, max_piece_len).select(
        "w",
        F.expr("size(split(lens, '-'))").alias("_np"),
        F.expr("size(filter(split(lens, '-'), x -> x <> '1'))").alias("_nm"),
    )
    return (
        doc_words.join(seg, "w")
        .groupBy("doc_id")
        .agg(
            F.sum("_np").cast("bigint").alias("n_tokens"),
            F.sum(F.length("w")).cast("bigint").alias("n_chars_tok"),
            F.sum("_nm").cast("bigint").alias("n_multi_tokens"),
        )
    )


# --- WordPiece merge training (r9) --------------------------------------
#
# Schuster & Nakajima 2012 / Wu et al. 2016 (the BERT tokenizer
# family): identical loop shape to BPE, but the merge choice maximizes
# the LIKELIHOOD ratio count(a,b) / (count(a) * count(b)) instead of
# the raw pair count — merging the pair that most exceeds its
# independence expectation.  Everything else (word-frequency collapse,
# greedy left fold, unrolled-CTE oracle) is the bpe_train_fixed
# machinery.


def wordpiece_train_fixed(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = 4,
    stats: dict | None = None,
) -> DataFrame:
    """Train ``n_merges`` WordPiece merges; returns
    ``(merge_rank, lhs, rhs, merged, pair_count, lhs_count,
    rhs_count)`` — integer columns only; the score
    pair_count/(lhs_count*rhs_count) orders the choice internally
    (computed as one IEEE double from integer counts — identical in
    any engine — with (score DESC, lhs, rhs) the deterministic total
    order).  At gate scale the int64 product lhs_count*rhs_count is
    exact; a 100 TB corpus would compute the ratio in double from the
    start, as production WordPiece does."""
    toks = F.split(F.lower(F.col(text_col)), "[^a-z0-9]+")
    words = (
        df.select(F.explode(toks).alias("w"))
        .where(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("wc"))
    )
    syms = words.select(
        "wc",
        F.expr("transform(sequence(1, length(w)), i -> substring(w, i, 1))").alias(
            "s"
        ),
    ).persist()
    register_persisted(syms)
    spark_for_result = df.sparkSession
    merge_rows = []
    prev_pin = None
    if stats is not None:
        stats["iter_sec"] = []
    import time as _time

    for r in range(1, n_merges + 1):
        _t0 = _time.perf_counter()
        # r11 (the 86-s n=50 tail, PLANS.md r10): the two per-iteration
        # broadcast joins re-aggregated the full word table once per
        # BROADCAST EXCHANGE (sym_counts evaluated twice) on top of the
        # pair aggregation — three corpus-sized aggregations per round.
        # The symbol-count relation is VOCAB-bounded (initial alphabet
        # + one row per prior merge, <= ~40 + n_merges rows), so it is
        # a bounded trainer artifact exactly like the winner row:
        # collect it and inline a literal lookup map — ONE distributed
        # aggregation per round, scores bit-identical (same integer
        # counts through the same double division).
        sym_rows = (
            syms.select("wc", F.explode("s").alias("sym"))
            .groupBy("sym")
            .agg(F.sum("wc").alias("sc"))
            .collect()
        )
        # counts as BIGINT literals: F.lit of a small Python int makes
        # an int32 literal and the exact score product ca*cb would
        # overflow under ANSI at corpus scale (the sums were longs)
        sc_map = F.create_map(
            *[
                c
                for row_ in sym_rows
                for c in (
                    F.lit(row_["sym"]),
                    F.lit(int(row_["sc"])).cast("bigint"),
                )
            ]
        )
        scored = (
            syms.where(F.size("s") >= 2)
            .select(
                "wc", F.explode(F.expr("sequence(1, size(s) - 1)")).alias("i"), "s"
            )
            .select(
                "wc",
                F.expr("element_at(s, i)").alias("a"),
                F.expr("element_at(s, i + 1)").alias("b"),
            )
            .groupBy("a", "b")
            .agg(F.sum("wc").alias("c"))
            .withColumn("ca", F.element_at(sc_map, F.col("a")))
            .withColumn("cb", F.element_at(sc_map, F.col("b")))
            .withColumn(
                "score",
                F.col("c").cast("double") / (F.col("ca") * F.col("cb")),
            )
        )
        # collect the 1-row winner and inline literals — same
        # exponential-plan fix as bpe_train_fixed (the crossJoin form
        # nested iteration r-1's tree twice per round)
        row = scored.orderBy(
            F.col("score").desc(), F.col("a"), F.col("b")
        ).limit(1).collect()
        if not row:
            break
        lhs, rhs = row[0]["a"], row[0]["b"]
        merge_rows.append(
            (r, lhs, rhs, lhs + rhs, row[0]["c"], row[0]["ca"], row[0]["cb"])
        )
        syms = _iter_pin(
            syms.withColumn("s", F.expr(_merge_fold(_sq(lhs), _sq(rhs)))),
            prev=prev_pin,
        )
        prev_pin = syms
        if stats is not None:
            stats["iter_sec"].append(round(_time.perf_counter() - _t0, 3))
    if prev_pin is not None:
        _unpin(prev_pin)  # the final pin is not read after the loop
    return spark_for_result.createDataFrame(
        merge_rows,
        "merge_rank int, lhs string, rhs string, merged string, "
        "pair_count bigint, lhs_count bigint, rhs_count bigint",
    )
