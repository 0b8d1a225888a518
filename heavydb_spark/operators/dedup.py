"""Deduplication operators for large-scale document corpora.

First-class training-data-pipeline components (BASELINE.json extension
surface; reference analogues are the similarity table functions,
QueryEngine/TableFunctions/SystemFunctions/os/SimilarityTableFunctions.hpp,
re-imagined for text dedup at 100 TB).

Scale design notes:
- Exact dedup is one hash-partitioned groupBy (map-side partial agg).
- MinHash/LSH follows the shingle → minhash → band → bucket-join shape:
  candidate generation is an equi-join on (band, signature) — a shuffle
  on a well-distributed key — NEVER an all-pairs cross join.
- All hashing is Spark-native xxhash64 (JVM codegen, deterministic across
  executors/runs) — no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


# ---------------------------------------------------------------- exact


def exact_dedup_by_hash(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Dedup on a fingerprint instead of the full text — at scale this
    shuffles 16-byte hashes, not documents."""
    return (
        df.withColumn("fp", F.md5(F.col(text_col)))
        .groupBy("fp")
        .agg(F.min(id_col).alias("keeper_id"), F.count(F.lit(1)).alias("copies"))
    )


# ------------------------------------------------------------- shingles


def _spread(df: DataFrame, key_col: str) -> DataFrame:
    """Hash-repartition on the key before CPU-heavy narrow transforms.

    A small single-file scan arrives as 1 partition; explode+hash would
    then run on one core. Partitioning by the key also pre-aligns the
    data with the downstream groupBy(key), so Catalyst elides the second
    shuffle — net cost is one small shuffle of raw rows.

    Partition count = max(cores, shuffle.partitions), EXPLICIT on
    purpose: see session.spread_partition_count — a count-less
    repartition lets AQE coalesce this exchange by bytes, and its
    downstream stages are exactly the CPU-per-byte-heavy narrow work
    a byte heuristic misjudges (measured: fuzzy-join variant explode
    collapsed to 1 task, 2 s -> 10 s).
    """
    from heavydb_spark.session import spread_partition_count

    return df.repartition(
        spread_partition_count(df.sparkSession), F.col(key_col)
    )

def token_shingles(text_col: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles of a text column (JVM higher-order
    functions; no UDF). Documents with fewer than n tokens yield NO
    shingles — the same semantics as `_shingle_rows` and every SQL
    oracle's range-based formulation (a doc that cannot form an n-gram
    cannot match one)."""
    tokens = F.split(F.trim(text_col), r"\s+")
    k = F.size(tokens) - (n - 1)
    return F.when(
        k <= 0, F.array().cast("array<string>")
    ).otherwise(
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), k - 1),
                lambda i: F.concat_ws(
                    " ", *[F.element_at(tokens, i + j + 1) for j in range(n)]
                ),
            )
        )
    )


# -------------------------------------------------------- exact jaccard

def _drop_hot_shingles(
    sh: DataFrame, max_df: int, key_cols: tuple[str, ...] = ("shingle",)
) -> DataFrame:
    """Drop shingles whose document frequency exceeds `max_df` — the
    boilerplate/stop-phrase skew cap. A shingle in k docs contributes
    O(k^2) join pairs; capping k bounds the worst shingle's cost while
    near-dup recall survives on the rare shingles (boilerplate shared
    by thousands of docs is exactly what should NOT make candidates).
    One aggregate on the already-partitioned shingle key + an anti
    join that Catalyst plans on the same partitioning. `key_cols`
    names the shingle key columns (raw text, or the compact hashed
    pair)."""
    hot = (
        sh.groupBy(*key_cols)
        .agg(F.count(F.lit(1)).alias("df_cnt"))
        .filter(F.col("df_cnt") > max_df)
        .select(*key_cols)
    )
    return sh.join(hot, list(key_cols), "left_anti")


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.8,
    max_df: int | None = None,
    hash_key: bool = True,
) -> DataFrame:
    """N-gram Jaccard near-duplicate pairs (id_a < id_b). With the
    default `hash_key=True` the join keys are 96-bit hashes of the
    shingles — Jaccard over hashed shingle sets, exact up to a
    ~n²/2^97 collision bound (see below); pass `hash_key=False` for
    literally exact raw-text keying.

    Plan shape: explode shingles → self equi-join on shingle (bounded by
    shared-shingle co-occurrence, not |docs|^2) → group pair → jaccard.
    At scale, hot shingles (stop-phrases) create join skew; pass
    `max_df` to drop shingles above a document-frequency cap before the
    join (`_drop_hot_shingles`). Sizes then count KEPT shingles, so
    jaccard stays a true ratio over the compared sets.

    `hash_key=True` (default, r13) replaces the raw ~n-token shingle
    text with compact (xxhash64, murmur3) key COLUMNS before anything
    shuffles — the distinct, the df-cap and the self-join all key on
    12 bytes instead of 20-50-byte strings (the same collision
    analysis as `remove_duplicate_spans` / `shared_run_pairs`:
    ~n²/2^97 for n distinct shingles — at a trillion shingles ≈6e-6,
    a collision at worst merging two shingles inside one doc's set,
    perturbing a single jaccard denominator by 1). `hash_key=False`
    restores exact raw-text keying.
    """
    # r14: hashed keys come straight off the zipped token struct
    # (no concat_ws string copy) — see _shingle_rows(hashed=True)
    if hash_key:
        key_cols: tuple[str, ...] = ("h1", "h2")
        sh0 = _shingle_rows(df, id_col, text_col, n, hashed=True)
    else:
        key_cols = ("shingle",)
        sh0 = _shingle_rows(df, id_col, text_col, n)
    # sizes + both join sides read the shingle relation above ONE
    # distinct exchange — AQE's query-stage cache runs that stage once
    # and shares it across all three consumers, so no checkpoint is
    # needed (r14: removing it keeps lineage visible to the planner and
    # lets the gram stage overlap the action instead of stalling the
    # build; same reasoning as shared_run_pairs).
    sh = sh0.distinct()
    if max_df is not None:
        sh = _drop_hot_shingles(sh, max_df, key_cols).localCheckpoint(
            eager=False
        )
    sizes = sh.groupBy("doc").agg(F.count(F.lit(1)).alias("n_sh"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(
            b,
            [F.col(f"a.{c}") == F.col(f"b.{c}") for c in key_cols]
            + [F.col("a.doc") < F.col("b.doc")],
        )
        .groupBy(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return (
        inter.join(sizes.withColumnRenamed("doc", "doc_a").withColumnRenamed("n_sh", "n_a"), "doc_a")
        .join(sizes.withColumnRenamed("doc", "doc_b").withColumnRenamed("n_sh", "n_b"), "doc_b")
        .withColumn(
            "jaccard",
            F.col("inter") / (F.col("n_a") + F.col("n_b") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))
    )


def shared_run_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    window: int = 8,
    max_df: int | None = None,
    hash_key: bool = True,
) -> DataFrame:
    """Exact-substring near-duplicate pairs: documents sharing at least
    one verbatim `window`-token run, with the length of the longest such
    run — the distributed approximation of suffix-array exact-substring
    dedup (Lee et al. 2022, arXiv:2107.06499; the suffix array itself
    does not distribute, but its matches are exactly the runs of
    matching fixed-width token windows).

    Unlike `ngram_jaccard_pairs` (symmetric similarity) this detects
    CONTAINMENT — a short document quoted inside a long one scores
    jaccard ~0 but containment 1.0 here.

    Plan shape: positional token windows → self equi-join on the window
    text (shared-window blocking, never all-pairs) → per-ordered-pair
    matched-position islands (one bounded window over (src, dst), rows
    per pair bounded by document length) → symmetric max. At scale, hot
    windows (boilerplate) create join skew AND quadratic candidate
    growth (a window in k docs yields O(k^2) pairs); pass `max_df` to
    drop windows above a document-frequency cap before the joins
    (`_drop_hot_shingles`) — boilerplate shared by thousands of docs
    should not make candidates, and rare windows carry the recall.

    Output per unordered pair (doc_a < doc_b): `shared_windows` (distinct
    windows in both), `longest_run_tokens` (longest token run whose every
    `window`-gram appears verbatim in the other document), `containment`
    (shared / min distinct windows).

    `hash_key=True` (default) replaces the raw ~window-token shingle
    text with a compact (xxhash64, murmur3) pair before anything
    shuffles — the self-joins, df-cap and distinct all key on 12
    bytes instead of 50-100-byte strings (same collision analysis as
    `remove_duplicate_spans`: ~n²/2^97). `hash_key=False` keys on the
    raw text.
    """
    from pyspark.sql.window import Window

    tokens = F.split(F.trim(F.col(text_col)), r"\s+")
    k = F.greatest(F.size(tokens) - (window - 1), F.lit(0))
    zipped = F.arrays_zip(
        *[F.slice(tokens, j + 1, k).alias(f"t{j}") for j in range(window)]
    )
    # plain (h1, h2) key COLUMNS, not a struct — flat keys stay in the
    # primitive hash/compare fast path through every join and
    # aggregation below (r13)
    if hash_key:
        # r14: hash the zipped token struct directly instead of the
        # concat_ws-joined window text (see remove_duplicate_spans —
        # same equality relation, same 96-bit collision bound, no
        # per-window string copy)
        key_exprs = [
            F.xxhash64(F.col("s")).alias("h1"),
            F.hash(F.col("s")).alias("h2"),
        ]
        key_cols = ["h1", "h2"]
    else:
        shingle_text = F.concat_ws(
            " ", *[F.col(f"s.t{j}") for j in range(window)]
        )
        key_exprs = [shingle_text.alias("shingle")]
        key_cols = ["shingle"]
    pos_rows = (
        _spread(df, id_col)
        .select(
            F.col(id_col).alias("doc"),
            F.posexplode(zipped).alias("pos", "s"),
        )
        .select("doc", "pos", *key_exprs)
    )
    dist = pos_rows.select("doc", *key_cols).distinct()
    if max_df is not None:
        hot = (
            dist.groupBy(*key_cols)
            .agg(F.count(F.lit(1)).alias("df_cnt"))
            .filter(F.col("df_cnt") > max_df)
            .select(*key_cols)
        )
        dist = dist.join(hot, key_cols, "left_anti").localCheckpoint(
            eager=False
        )
        pos_rows = pos_rows.join(
            dist.select(*key_cols).distinct(), key_cols, "left_semi"
        )
    sizes = dist.groupBy("doc").agg(F.count(F.lit(1)).alias("n_sh"))
    a, b = dist.alias("a"), dist.alias("b")
    inter = (
        a.join(
            b,
            [F.col(f"a.{c}") == F.col(f"b.{c}") for c in key_cols]
            + [F.col("a.doc") < F.col("b.doc")],
        )
        .groupBy(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("shared_windows"))
    )
    # matched source positions per ORDERED pair -> island lengths; the
    # longest island of matched windows spans island + window - 1 tokens.
    # (An r13 experiment derived shared_windows from this relation via
    # count_distinct over the window partitioning to drop the dist×dist
    # join above — measured SLOWER: the distinct aggregate re-expands
    # matched on (src, dst, h1, h2) while the self-join stays broadcast-
    # sized.  Kept the join.)
    p, q = pos_rows.alias("p"), dist.alias("q")
    matched = (
        p.join(
            q,
            [F.col(f"p.{c}") == F.col(f"q.{c}") for c in key_cols]
            + [F.col("p.doc") != F.col("q.doc")],
        )
        .select(
            F.col("p.doc").alias("src"),
            F.col("q.doc").alias("dst"),
            F.col("p.pos").alias("pos"),
        )
        # no distinct needed: p rows are unique per (doc, pos) and q is
        # distinct per (doc, shingle), so each (src, dst, pos) appears
        # exactly once — a dedup here would re-shuffle the largest
        # intermediate for nothing
    )
    w = Window.partitionBy("src", "dst").orderBy("pos")
    streaks = (
        matched.withColumn("grp", F.col("pos") - F.row_number().over(w))
        .groupBy("src", "dst", "grp")
        .agg(F.count(F.lit(1)).alias("run_len"))
        .groupBy("src", "dst")
        .agg(F.max("run_len").alias("max_streak"))
    )
    sym = (
        streaks.select(
            F.least("src", "dst").alias("doc_a"),
            F.greatest("src", "dst").alias("doc_b"),
            "max_streak",
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.max("max_streak").alias("streak"))
    )
    sa = sizes.withColumnRenamed("doc", "doc_a").withColumnRenamed("n_sh", "n_a")
    sb = sizes.withColumnRenamed("doc", "doc_b").withColumnRenamed("n_sh", "n_b")
    return (
        inter.join(sym, ["doc_a", "doc_b"])
        .join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "shared_windows",
            (F.col("streak") + F.lit(window - 1)).alias("longest_run_tokens"),
            F.round(
                F.col("shared_windows") / F.least("n_a", "n_b"), 6
            ).alias("containment"),
        )
    )


# ------------------------------------------------- duplicated-span rewrite

def remove_duplicate_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    window: int = 8,
    hash_key: bool = True,
    ordered: bool = False,
) -> DataFrame:
    """Corpus REWRITE that removes duplicated token spans: every token
    covered by a `window`-token run whose text occurs more than once in
    the corpus is deleted, except in the run's first occurrence (min
    (id, position)) — the ExactSubstr dedup of Lee et al. 2022
    (arXiv:2107.06499) / the RefinedWeb exact-span pass, restated over
    fixed-width windows so it distributes (a suffix array does not).
    `shared_run_pairs` *reports* duplicated runs; this operator applies
    the edit and returns the cleaned corpus.

    `hash_key=True` (default) shuffles a compact (xxhash64, murmur3)
    struct of each gram instead of its raw ~window-token text — the
    standard production choice (Lee et al. dedup via hashes): the
    count/keeper exchange moves 12-byte keys, not 50-100-byte strings
    (15% wall locally; the byte ratio grows with window at 100 TB).
    Collision risk is ~n²/2^97 for n distinct grams — ≈6e-6 at a
    trillion grams, each colliding pair at worst removing one benign
    span. `hash_key=False` restores exact raw-gram keying.

    Output: one row per input document — `{id_col}`, `clean_text`
    (surviving tokens, original order, space-joined), `n_tokens` kept,
    `n_removed`. Documents shorter than `window` tokens pass through.

    Plan shape / 100 TB: window occurrences are counted with one
    hash-shuffle groupBy on the gram text (map-side partial agg); the
    keeper occurrence is the min (id, wpos) struct in the same agg.
    Duplicated occurrences join back (shuffle on gram), explode to at
    most `window` covered positions each, and aggregate into per-doc
    covered-position sets (collect_set partial-aggregates map-side —
    one exchange of partially-dedup'd int sets).  The checkpointed
    (doc, toks) base joins the sets on the doc id and the cleaned text
    is rebuilt map-side — array_except(sequence, covered) is hash-set
    based (linear, order-preserving) — so the token payload crosses
    exactly one exchange, packed as arrays, and no per-doc sort or
    token-row explode exists in the reassembly. Unlike pair detection
    there is NO occurrence × occurrence join anywhere — a gram
    appearing k times contributes O(k·window) rows, never O(k²), so
    boilerplate cannot blow up the plan; total cost stays linear in
    corpus tokens.
    """
    tokens = F.split(F.trim(F.col(text_col)), r"\s+")
    base = _spread(df, id_col).select(
        F.col(id_col).alias("doc"), tokens.alias("toks")
    ).localCheckpoint(eager=False)
    # r13 optimization (guide §4.1-adjacent, same rationale as
    # _shingle_rows): grams via arrays_zip of `window` shifted slices +
    # one posexplode — plain codegen expressions; the previous
    # transform(sequence, i -> concat_ws(slice)) lambda is interpreted
    # per element (HOF bodies neither codegen nor CSE).  Sub-window
    # docs: k <= 0 makes every slice empty, so the zip is empty — same
    # no-gram semantics as the old sequence guard.
    k = F.greatest(F.size("toks") - (window - 1), F.lit(0))
    zipped = F.arrays_zip(
        *[F.slice("toks", j + 1, k).alias(f"t{j}") for j in range(window)]
    )
    occ = base.select("doc", F.posexplode(zipped).alias("wpos", "s"))
    # plain (h1, h2) key COLUMNS, not a struct — struct grouping/join
    # keys hash and compare through the generic struct path; two flat
    # columns stay in the primitive fast path (r13)
    if hash_key:
        # r14: hash the zipped token struct DIRECTLY (xxhash64 +
        # murmur3 `hash`, both multi-type codegen hashes) instead of
        # materialising the space-joined gram string and hashing that
        # — the concat_ws copy was ~25% of the gram stage's CPU
        # (micro A/B 0.256 -> 0.170 s on the projection).  Gram
        # equality is unchanged (tokens from a \s+ split contain no
        # spaces, so both keyings are injective on the same relation);
        # the 64+32-bit collision bound and its analysis carry over.
        occ = occ.select(
            "doc", "wpos",
            F.xxhash64("s").alias("h1"),
            F.hash("s").alias("h2"),
        )
        key_cols = ["h1", "h2"]
    else:
        gram_text = F.concat_ws(
            " ", *[F.col(f"s.t{j}") for j in range(window)]
        )
        occ = occ.select("doc", "wpos", gram_text.alias("gram"))
        key_cols = ["gram"]
    stats = occ.groupBy(*key_cols).agg(
        F.count(F.lit(1)).alias("cnt"),
        F.min(F.struct("doc", "wpos")).alias("keeper"),
    )
    dup_occ = (
        occ.join(stats.filter(F.col("cnt") > 1), key_cols)
        .filter(F.struct("doc", "wpos") != F.col("keeper"))
    )
    # r13 (second pass, guide §2.3/§2.4): reassembly via per-doc covered
    # POSITION SETS, not token rows.  The previous form exploded every
    # token (doc, pos, tok), shuffled that row-per-token relation on doc,
    # anti-joined it against the covered positions, and re-collected +
    # array_sort'ed the survivors per doc — the token payload crossed an
    # exchange as exploded rows and paid an O(n log n) sort to restore an
    # order the base array already had.  Now only the covered POSITIONS
    # aggregate (collect_set partial-aggregates map-side, so the shuffle
    # carries per-partition-dedup'd int sets — the same dedup the old
    # distinct did, one exchange earlier), the checkpointed (doc, toks)
    # base joins the sets on doc, and the surviving text is rebuilt
    # map-side: array_except(sequence, covered) is hash-set based
    # (linear, order-preserving), so no per-doc sort and no token-row
    # explode anywhere in the reassembly.
    covered_sets = (
        dup_occ.select(
            "doc",
            F.explode(
                F.sequence(F.col("wpos"), F.col("wpos") + (window - 1))
            ).alias("pos"),
        )
        .groupBy("doc")
        .agg(F.collect_set("pos").alias("covered"))
    )
    # Guard the sequence end (r14, advice): for a NULL text size(toks)
    # is -1 under the session's non-ANSI mode and sequence(0, negative)
    # DESCENDS ([0, -1, ...]); null/empty docs must keep zero tokens.
    kept_pos = F.when(
        F.size("toks") > 0,
        F.array_except(
            F.sequence(F.lit(0), F.size("toks") - 1),
            F.coalesce("covered", F.array().cast("array<int>")),
        ),
    ).otherwise(F.array().cast("array<int>"))
    joined = base.join(covered_sets, "doc", "left")
    if ordered:
        # `ordered=True` range-partitions the JOIN output on the doc id
        # so a caller's terminal ORDER BY id is satisfied by this
        # partitioning (alias-aware) with a within-partition sort only —
        # the global sort's range sampling then executes the cheap join
        # child, never the rebuild projection below (which a sampling
        # pass above it would otherwise compute TWICE).
        from heavydb_spark.session import spread_partition_count

        joined = joined.repartitionByRange(
            spread_partition_count(df.sparkSession), F.col("doc")
        )
    return (
        joined
        .select("doc", "toks", kept_pos.alias("kept_pos"))
        .select(
            F.col("doc").alias(id_col),
            F.concat_ws(
                " ",
                F.transform(
                    "kept_pos", lambda i: F.element_at("toks", i + 1)
                ),
            ).alias("clean_text"),
            F.size("kept_pos").cast("long").alias("n_tokens"),
            # greatest(size, 0): a NULL text has size(toks) = -1, and
            # removed-count must be 0 for a doc that kept 0 of 0 tokens
            (
                F.greatest(F.size("toks"), F.lit(0)) - F.size("kept_pos")
            ).cast("long").alias("n_removed"),
        )
    )


# ------------------------------------------- boilerplate-segment removal

def remove_boilerplate_segments(
    df: DataFrame,
    id_col: str,
    text_col: str,
    seg: int = 6,
    min_docs: int = 3,
) -> DataFrame:
    """Corpus REWRITE that strips boilerplate: split every document
    into disjoint `seg`-token segments and delete EVERY occurrence of
    any segment that appears in >= `min_docs` distinct documents — the
    repeated-line/paragraph removal of CCNet (arXiv:1911.00359 §4.1,
    hash-dedup of paragraphs across shards) and RefinedWeb's line-level
    boilerplate pass (part of the training-data-pipeline extension
    surface, not a reference-parity op). Complements
    `remove_duplicate_spans` (ExactSubstr): spans keep their FIRST
    occurrence and trigger on ANY re-occurrence, while boilerplate
    segments are judged by distinct-document frequency and removed
    everywhere — navbars and license headers should survive in no
    document at all.

    Output: one row per input document — `{id_col}`, `clean_text`
    (surviving segments, original order, space-joined), `n_tokens`
    kept, `n_removed_segments`.

    Plan shape / 100 TB: disjoint segmentation explodes ~n_tokens/seg
    rows per doc (a factor `seg` cheaper than the sliding-window
    ExactSubstr explode); segment frequency is one hash-shuffle
    groupBy on the segment text with a distinct-doc count; deletion is
    a left-anti join of occurrences against the (typically tiny)
    boilerplate set; reassembly is one shuffle of the SURVIVING
    segment rows on the doc id — the shuffle adapts to the removal
    rate, which the set-rebuild alternative (see the in-body note)
    does not. No occurrence-pair join anywhere — a segment repeated k
    times costs O(k) rows, never O(k^2).
    """
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    # r14: the checkpointed base stores the SEGMENT array, not the
    # token array.  The segmentation transform is an interpreted HOF
    # (lambda bodies neither codegen nor CSE) and `occ` is consumed
    # twice (frequency count + anti-join side) — deriving segs from a
    # checkpointed toks re-ran the whole transform per consumer
    # (measured: the two seg-generating stages were 12.5 s + 12.6 s of
    # the head's CPU).  Same text bytes stored (fewer array elements);
    # n_segs and the empty/null-text cases are byte-identical:
    # size<=0 stores [], so size(segs) is 0 there and ceil(n/seg)
    # elsewhere, exactly the old when(...)-guarded nseg.
    nseg = F.ceil(F.size(toks) / F.lit(seg)).cast("int")
    segs = F.when(
        F.size(toks) <= 0, F.array().cast("array<string>")
    ).otherwise(
        F.transform(
            F.sequence(F.lit(1), F.greatest(nseg, F.lit(1))),
            lambda i: F.concat_ws(
                " ", F.slice(toks, (i - F.lit(1)) * seg + 1, seg)
            ),
        )
    )
    base = _spread(df, id_col).select(
        F.col(id_col).alias("doc"), segs.alias("segs")
    ).localCheckpoint(eager=False)
    occ = base.select("doc", F.posexplode("segs").alias("spos", "seg"))
    boiler = (
        occ.groupBy("seg")
        .agg(F.count_distinct("doc").alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
        .select("seg")
    )
    # r14 REVERT of the r13 pre-join doc repartition: the r13 verdict
    # flagged its perf standing as unverified, and the full
    # (checkpoint-bypassed) plan pair shows WHY it could never win —
    # both forms shuffle on doc exactly once.  Without the repartition
    # the reassembly groupBy's own ENSURE_REQUIREMENTS exchange ships
    # the partial collect_list of SURVIVING segments (AQE-coalescible);
    # with it, Catalyst floats the explicit exchange above the
    # broadcast anti join, shipping the same surviving rows unpacked.
    # Interleaved same-JVM A/B (5 alternating reps): med 1.512 s
    # (plain) vs 1.527 s (repartitioned) — a wash; the simpler,
    # AQE-adaptive form wins on plan quality.
    # (A second-pass r13 experiment rebuilt from per-doc BAD-position
    # sets + array_except over the checkpointed base, like
    # remove_duplicate_spans — measured a LOCAL wash and 25% slower /
    # +66% shuffle bytes at the §D adversarial 10x: this form ships
    # only the SURVIVING segment rows, which adapts to the removal
    # rate, while the set form ships the full packed corpus
    # regardless.  Kept the survivor-row form.)
    kept = occ.join(boiler, "seg", "left_anti")
    # getField (codegen) instead of an interpreted transform lambda
    rebuilt = kept.groupBy("doc").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.concat_ws(
            " ",
            F.array_sort(
                F.collect_list(F.struct("spos", "seg"))
            ).getField("seg"),
        ).alias("clean_text"),
    )
    totals = base.select("doc", F.size("segs").alias("n_segs"))
    return (
        totals.join(rebuilt, "doc", "left")
        .select(
            F.col("doc").alias(id_col),
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            F.when(
                F.col("clean_text").isNull() | (F.col("clean_text") == ""),
                F.lit(0),
            )
            .otherwise(F.size(F.split(F.col("clean_text"), r"\s+")))
            .cast("long")
            .alias("n_tokens"),
            (F.col("n_segs") - F.coalesce("n_kept", F.lit(0)))
            .cast("long")
            .alias("n_removed_segments"),
        )
    )


# ---------------------------------------------------------- minhash/LSH

def _shingle_rows(
    df: DataFrame, id_col: str, text_col: str, n: int = 3,
    hashed: bool = False,
) -> DataFrame:
    """(doc, shingle) rows via slice + arrays_zip + one explode.

    slice/arrays_zip are plain expressions (whole-stage codegen, no
    lambda), and unlike the window-lead formulation there is no
    per-partition sort — measured ~40% faster at sf0.1. The lambda
    (`transform`) formulation is ~10x slower still: HOF bodies neither
    codegen nor CSE.

    `hashed=True` returns (doc, h1, h2) — xxhash64 + murmur3 of the
    zipped token struct itself, skipping the concat_ws string copy
    (r14; for callers that only need shingle-identity join keys, never
    the text — same equality relation, \\s+ tokens contain no spaces).
    """
    tokens = F.split(F.trim(F.col(text_col)), r"\s+")
    k = F.greatest(F.size(tokens) - (n - 1), F.lit(0))
    zipped = F.arrays_zip(
        *[F.slice(tokens, j + 1, k).alias(f"t{j}") for j in range(n)]
    )
    ex = _spread(df, id_col).select(
        F.col(id_col).alias("doc"), F.explode(zipped).alias("s")
    )
    if hashed:
        return ex.select(
            "doc", F.xxhash64("s").alias("h1"), F.hash("s").alias("h2")
        )
    return ex.select(
        "doc",
        F.concat_ws(" ", *[F.col(f"s.t{j}") for j in range(n)]).alias(
            "shingle"
        ),
    )


# Deterministic odd multipliers/offsets for affine rehashing
# h_i(x) = a_i * h(x) + b_i (mod 2^64) — splitmix64-style constants.
def _affine_constants(k: int) -> list[tuple[int, int]]:
    out = []
    s = 0x9E3779B97F4A7C15
    x = 0x243F6A8885A308D3
    for _ in range(k):
        x = (x * 6364136223846793005 + 1442695040888963407) % (1 << 64)
        a = x | 1  # odd multiplier
        x = (x * 6364136223846793005 + s) % (1 << 64)
        out.append((a, x))
    return out


def _to_i64(v: int) -> int:
    return v - (1 << 64) if v >= (1 << 63) else v


def _minhash_wide(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_perm: int = 64,
) -> DataFrame:
    """Per-doc minhash signature in wide form: columns doc, m0..m{k-1}.

    Each shingle is hashed ONCE (xxhash64); the num_perm permutations
    are affine transforms a_i*h+b_i over the base hash (WRAPPING int64
    arithmetic — requires spark.sql.ansi.enabled=false, which
    session.py pins; ANSI mode would raise on the overflow), expressed as
    num_perm plain `min` aggregates — the whole pipeline is shuffle-on-
    doc + map-side partial aggregation, fully inside whole-stage
    codegen. Duplicate shingles need no dedup (min is idempotent).
    The wide form lets band hashes be computed as plain multi-arg
    xxhash64 over columns (codegen) instead of array slices (HOF).
    """
    base = _shingle_rows(df, id_col, text_col, n).select(
        "doc", F.xxhash64("shingle").alias("h")
    )
    consts = _affine_constants(num_perm)
    # r13: each aggregate as ONE F.expr string instead of ~8 chained
    # Column operations — the bench rebuilds this DataFrame every
    # iteration, and 64 aggregates × 8 py4j round-trips was ~0.6 s of
    # pure driver-side construction per build (measured; the parsed
    # expression tree is identical: BIGINT literals wrap exactly like
    # the lit().cast("long") form under the session's non-ANSI mode).
    aggs = [
        F.expr(
            f"min(h * {_to_i64(a)}L + {_to_i64(b)}L) AS m{i}"
        )
        for i, (a, b) in enumerate(consts)
    ]
    return base.groupBy("doc").agg(*aggs)


def _sig_array(num_perm: int) -> Column:
    """array(m0..m{k-1}) as one parsed expression (single py4j call)."""
    return F.expr(
        "array(" + ", ".join(f"m{i}" for i in range(num_perm)) + ")"
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_perm: int = 64,
) -> DataFrame:
    """Per-doc minhash signature as an array<long> of length num_perm."""
    return _minhash_wide(df, id_col, text_col, n, num_perm).select(
        "doc", _sig_array(num_perm).alias("sig")
    )


def _banded(wide: DataFrame, bands: int, rows_per_band: int) -> DataFrame:
    """(doc, band, band_hash) rows: band hash = multi-arg xxhash64 over
    that band's min columns — no higher-order functions, whole plan in
    codegen.  Built as one parsed expression (r13): the per-iteration
    construction cost of 16 multi-arg hash Columns was measurable."""
    hashes = ", ".join(
        "xxhash64("
        + ", ".join(f"m{b * rows_per_band + j}" for j in range(rows_per_band))
        + ")"
        for b in range(bands)
    )
    return wide.select(
        "doc",
        F.posexplode(F.expr(f"array({hashes})")).alias("band", "band_hash"),
    )


def minhash_lsh_candidates(
    sigs: DataFrame, bands: int = 16, rows_per_band: int = 4
) -> DataFrame:
    """LSH banding: docs agreeing on all rows of any band become a
    candidate pair. One explode (docs × bands) + equi-join on
    (band, band_hash) — the scale-safe candidate generator.
    Accepts wide (m0..mk) or array (sig) signature form. The
    signature must carry exactly bands*rows_per_band values — a
    shorter one would band over NULLs, collapsing every doc into one
    bucket and degrading the equi-join to all-pairs."""
    need = bands * rows_per_band
    if "sig" in sigs.columns:
        short = sigs.select(F.min(F.size("sig")).alias("n")).first()["n"]
        if short is not None and short < need:
            raise ValueError(
                f"signature length {short} < bands*rows_per_band={need} "
                "(num_perm mismatch)"
            )
        sigs = sigs.select(
            "doc",
            *[F.element_at("sig", i + 1).alias(f"m{i}") for i in range(need)],
        )
    missing = [i for i in range(need) if f"m{i}" not in sigs.columns]
    if missing:
        raise ValueError(
            f"signature has no m{missing[0]}: bands*rows_per_band={need} "
            "exceeds the signature length (num_perm mismatch)"
        )
    banded = _banded(sigs, bands, rows_per_band)
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .distinct()
    )


def minhash_dedup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_perm: int = 64,
    bands: int = 16,
    threshold: float = 0.8,
) -> DataFrame:
    """Full MinHash+LSH near-dup pipeline: candidates by banding, then
    verification by signature agreement ratio (jaccard estimate).
    Returns (doc_a, doc_b, est_jaccard). The wide signature relation is
    localCheckpoint'ed — it feeds both banding and verification, so the
    shingle+agg stages run once, and band/array projections off it stay
    in whole-stage codegen. Checkpoint (not persist): blocks are freed
    by the ContextCleaner when the result is garbage-collected, so
    repeated calls don't leak cache entries."""
    wide = _minhash_wide(df, id_col, text_col, n, num_perm).localCheckpoint(
        eager=False
    )
    cands = minhash_lsh_candidates(wide, bands, num_perm // bands)
    sig_arr = wide.select("doc", _sig_array(num_perm).alias("sig"))
    a = sig_arr.withColumnRenamed("doc", "doc_a").withColumnRenamed("sig", "sig_a")
    b = sig_arr.withColumnRenamed("doc", "doc_b").withColumnRenamed("sig", "sig_b")
    # one parsed expression — column-lambda construction (zip_with +
    # filter) costs several py4j exchanges per build (r13)
    est = F.expr(
        "size(filter(zip_with(sig_a, sig_b, (x, y) -> x = y), e -> e))"
        f" / {num_perm}"
    )
    return (
        cands.join(a, "doc_a")
        .join(b, "doc_b")
        .withColumn("est_jaccard", est)
        .filter(F.col("est_jaccard") >= threshold)
        .select("doc_a", "doc_b", F.round("est_jaccard", 6).alias("est_jaccard"))
    )


# -------------------------------------------------------------- simhash

def simhash64(
    df: DataFrame, id_col: str, text_col: str, token_hash=None
) -> DataFrame:
    """64-bit SimHash per document, fully JVM-side.

    Token hashes vote per bit (+1/-1); the sign of each bit-sum forms the
    fingerprint. Implemented as explode → 64 conditional sums → bit
    reassembly with shiftleft/bitwise-or — one shuffle on doc id.

    `token_hash` (Column -> Column) overrides the default xxhash64 —
    pass `portable_token_hash62` for the cross-engine-checkable form.
    """
    hash_fn = token_hash if token_hash is not None else F.xxhash64
    tok = (
        _spread(df, id_col)
        .select(
            F.col(id_col).alias("doc"),
            F.explode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("t"),
        )
        # empty/whitespace-only text splits to [''] — such documents
        # carry no tokens (and the portable oracle filters t <> '')
        .filter(F.col("t") != "")
        .withColumn("h", hash_fn(F.col("t")))
    )
    # r13: the 64 vote aggregates and the 64-term bit fold as parsed
    # expressions — the chained-Column form cost ~500 py4j round-trips
    # of driver time per build (same fix as _minhash_wide; the parsed
    # trees are identical, so fingerprints are bit-identical)
    votes = [
        F.expr(
            f"sum(CASE WHEN (shiftright(h, {i}) & 1) = 1"
            f" THEN 1 ELSE -1 END) AS b{i}"
        )
        for i in range(64)
    ]
    agg = tok.groupBy("doc").agg(*votes)
    fp = F.expr(
        " | ".join(
            f"shiftleft(CAST(CASE WHEN b{i} > 0 THEN 1 ELSE 0 END"
            f" AS BIGINT), {i})"
            for i in range(64)
        )
    )
    return agg.select("doc", fp.alias("simhash"))


def simhash_neardup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    token_hash=None,
) -> DataFrame:
    """SimHash near-dup pairs: block on 16-bit chunks (any chunk equal →
    candidate; by pigeonhole, hamming<=3 pairs share ≥1 of 4 chunks),
    verify with bit_count(xor).

    Recall contract: with 4 chunks the blocking GUARANTEES candidates
    only for hamming <= 3 (the default threshold). A larger
    `max_hamming` widens verification but pairs whose flips touch all
    four chunks can be missed — best-effort recall, as in practice
    near-dup flips concentrate. Exact recall at higher radii needs
    Manku-style multi-permutation tables (more blocking passes, same
    equi-join shape)."""
    fps = simhash64(df, id_col, text_col, token_hash=token_hash)
    # both sides of the chunk self-join read this relation — compute
    # the explode + 64-vote aggregation once (checkpoint, not persist:
    # blocks freed by the ContextCleaner)
    fps = fps.localCheckpoint(eager=False)
    chunked = fps.select(
        "doc",
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col("simhash"), 16 * c)
                    .bitwiseAND(F.lit(0xFFFF))
                    .cast("int")
                    for c in range(4)
                ]
            )
        ).alias("chunk_idx", "chunk"),
    )
    a, b = chunked.alias("a"), chunked.alias("b")
    return (
        a.join(
            b,
            (F.col("a.chunk_idx") == F.col("b.chunk_idx"))
            & (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(
            F.col("a.doc").alias("doc_a"),
            F.col("b.doc").alias("doc_b"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def connected_components(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iter: int = 20,
) -> DataFrame:
    """(node, component) over the near-dup pair graph; component = min
    node id in the connected component — the cluster-collapse step that
    turns candidate pairs into a canonical-keeper assignment (each doc
    keeps component == its own id, duplicates point at their keeper).

    Min-label propagation: each round is one equi-join + min-aggregate,
    rounds ~ graph diameter (near-dup clusters are shallow — a few
    rounds). Iteration state is localCheckpoint'ed so repeated calls
    don't leak cache entries and lineage doesn't grow per round.
    """
    und = pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
    und = (
        und.union(
            und.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    labels = (
        und.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iter):
        prop = (
            und.join(labels, und["dst"] == labels["node"])
            .groupBy(F.col("src").alias("node"))
            .agg(F.min("label").alias("nbr"))
        )
        new_labels = (
            labels.join(prop, "node", "left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce("nbr", F.col("label"))
                ).alias("label"),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.label") != F.col("o.label"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"connected_components did not converge in max_iter={max_iter} "
            "rounds (component diameter exceeds the cap); raise max_iter"
        )
    return labels.select("node", F.col("label").alias("component"))


# ------------------------------------- portable (cross-engine) hashing
#
# xxhash64 is JVM-only, so the sketches above get rows-only driver
# checks. These variants express the SAME sketch pipelines over a
# 31-bit polynomial + mid-square + MINSTD hash built from +,*,% and
# ascii() only — arithmetic any SQL engine reproduces exactly — which
# turns SimHash and MinHash+LSH into oracle-checkable queries (the
# SQLiteComparator idea extended to sketch algorithms). Production
# paths keep xxhash64 (64-bit, whole-stage codegen); the portable
# forms exist so the ALGORITHMS — votes, banding, blocking, hamming /
# est-jaccard verification — are value-checked cross-engine.
#
# Same MINSTD constants as operators/pipeline.portable_hash (pipeline
# imports this module, so they are re-declared here).

_PM31 = 2_147_483_647  # 2^31 - 1
_PA = 48_271  # MINSTD multiplier
_POW31 = [pow(31, k, _PM31) for k in range(65)]


def portable_token_hash(tok: Column, seed: int = 0) -> Column:
    """31-bit portable hash of a short string (truncated to 64 chars):
    polynomial-31 fold over the character codes, then mid-square
    (h*h + h mod M — the polynomial alone is linear in the codes) and
    one MINSTD round. Higher-order-function expressions — fine for the
    oracle-checkable catalog variants, NOT the xxhash64 hot path."""
    t = F.substring(tok, 1, 64)
    ln = F.length(t)
    pows = F.array(*[F.lit(p).cast("long") for p in _POW31])
    terms = F.transform(
        F.split(t, ""),
        lambda c, i: F.ascii(c).cast("long")
        * F.element_at(pows, (ln - i).cast("int")),
    )
    h0 = F.when(ln == 0, F.lit(0).cast("long")).otherwise(
        F.pmod(
            F.aggregate(terms, F.lit(0).cast("long"), lambda a, v: a + v),
            F.lit(_PM31),
        )
    )
    g = F.pmod(h0 * h0 + h0 + F.lit(seed), F.lit(_PM31))
    r = F.pmod(g * _PA + 11, F.lit(_PM31))
    return F.pmod(r * _PA, F.lit(_PM31))


def portable_token_hash_sql(expr: str, seed: int = 0) -> str:
    """The DuckDB-runnable SQL text of `portable_token_hash` over a
    string expression (for oracles). `expr` should be cheap — ideally
    a plain column — because it is referenced several times."""
    pows = "[" + ", ".join(str(p) for p in _POW31) + "]"
    t = f"substr({expr}, 1, 64)"
    h0 = (
        f"(coalesce(list_sum(list_transform(range(0, length({t})), "
        f"k -> CAST(ascii(substr({t}, CAST(k + 1 AS INTEGER), 1)) AS BIGINT) "
        f"* CAST(({pows})[length({t}) - k] AS BIGINT))), 0) % {_PM31})"
    )
    g = f"(({h0} * {h0} + {h0} + {seed}) % {_PM31})"
    r = f"(({g} * {_PA} + 11) % {_PM31})"
    return f"(({r} * {_PA}) % {_PM31})"


def portable_token_hash62(tok: Column) -> Column:
    """62-bit portable hash: two independently-seeded 31-bit hashes
    packed as h1 * 2^31 + h2 (bits 62-63 are zero — the SimHash votes
    on those bits are uniformly -1 on both engines)."""
    return portable_token_hash(tok, 1) * F.lit(1 << 31).cast(
        "long"
    ) + portable_token_hash(tok, 2)


def _affine_constants_m31(k: int, seed: int = 12_345) -> list[tuple[int, int]]:
    """k deterministic (a, b) pairs in [1, M31) for affine minhash
    permutations mod M31 — MINSTD stream, engine-independent."""
    out, x = [], seed
    for _ in range(k):
        x = (x * _PA) % _PM31
        a = x or 1
        x = (x * _PA) % _PM31
        out.append((a, x))
    return out


def minhash_dedup_pairs_portable(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_perm: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
) -> DataFrame:
    """`minhash_dedup_pairs` on the portable hash with affine
    permutations mod 2^31-1 (wrapping 64-bit arithmetic would error in
    engines with checked overflow): same shingle → min-agg → band
    equi-join → signature-agreement verify shape, every value
    reproducible in ANSI SQL."""
    base = _shingle_rows(df, id_col, text_col, n).select(
        "doc", portable_token_hash(F.col("shingle"), 3).alias("h")
    )
    consts = _affine_constants_m31(num_perm)
    # r13: parsed expression strings, one py4j round-trip per aggregate
    # (same fix as _minhash_wide; h and the m31 constants stay below
    # 2^31 so h*a+b fits int64 with no wrap — the parsed tree is the
    # Column tree; this variant is exact-oracled, and the oracle ran
    # green at sf0.001/sf0.01 after the change)
    aggs = [
        F.expr(f"min(pmod(h * {a} + {b}, {_PM31})) AS m{i}")
        for i, (a, b) in enumerate(consts)
    ]
    wide = base.groupBy("doc").agg(*aggs).localCheckpoint(eager=False)
    rpb = num_perm // bands
    band_keys = ", ".join(
        "concat_ws(':', "
        + ", ".join(
            f"CAST(m{b * rpb + j} AS STRING)" for j in range(rpb)
        )
        + ")"
        for b in range(bands)
    )
    banded = wide.select(
        "doc",
        F.posexplode(F.expr(f"array({band_keys})")).alias(
            "band", "band_key"
        ),
    )
    a_, b_ = banded.alias("a"), banded.alias("b")
    cands = (
        a_.join(
            b_,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .distinct()
    )
    sig = wide.select("doc", _sig_array(num_perm).alias("sig"))
    a2 = sig.withColumnRenamed("doc", "doc_a").withColumnRenamed("sig", "sig_a")
    b2 = sig.withColumnRenamed("doc", "doc_b").withColumnRenamed("sig", "sig_b")
    est = F.expr(
        "size(filter(zip_with(sig_a, sig_b, (x, y) -> x = y), e -> e))"
        f" / {num_perm}"
    )
    return (
        cands.join(a2, "doc_a")
        .join(b2, "doc_b")
        .withColumn("est_jaccard", est)
        .filter(F.col("est_jaccard") >= threshold)
        .select(
            "doc_a", "doc_b", F.round("est_jaccard", 6).alias("est_jaccard")
        )
    )


# -------------------------------------------------- cross-group overlap


def group_shingle_overlap(
    df: DataFrame,
    group_col: str,
    text_col: str,
    n: int = 3,
) -> DataFrame:
    """Pairwise corpus-slice overlap: for every pair of groups (e.g.
    sources or dumps) sharing at least one distinct word n-gram, the
    exact shingle-set intersection, Jaccard, and containment — the
    cross-dump leakage report a corpus build runs before deciding
    which slices to keep (the exact form of the sketch-based overlap
    matrices used on web-crawl dumps).

    Plan shape / 100 TB: distinct (group, shingle) is one shuffle;
    pair counts come from ONE more shuffle on the shingle that
    collects each shingle's sorted group set and expands its ordered
    pairs map-side (a flatten of nested transforms — no self-join, so
    the shingle relation is shuffled once, not twice-and-joined). A
    shingle shared by k groups expands to O(k²) tiny pair rows,
    bounded by the group count, not the corpus size; the pair
    aggregate itself is |groups|² at most."""
    # round-robin spread, not _spread(group_col): a handful of group
    # values would cap the explode's parallelism at |groups| partitions,
    # and the distinct reshuffles on (grp, shingle) regardless.
    from heavydb_spark.session import spread_partition_count

    spread = df.repartition(spread_partition_count(df.sparkSession))
    dist = (
        spread.select(
            F.col(group_col).alias("grp"),
            F.explode(token_shingles(F.col(text_col), n)).alias("shingle"),
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    sizes = dist.groupBy("grp").agg(F.count(F.lit(1)).alias("n_sh"))
    gs = F.col("gs")
    pair_arr = F.flatten(
        F.transform(
            gs,
            lambda g, i: F.transform(
                F.slice(gs, i + 2, F.size(gs)),
                lambda h: F.struct(
                    g.alias("group_a"), h.alias("group_b")
                ),
            ),
        )
    )
    inter = (
        dist.groupBy("shingle")
        .agg(F.array_sort(F.collect_set("grp")).alias("gs"))
        .filter(F.size("gs") > 1)
        .select(F.explode(pair_arr).alias("p"))
        .groupBy(
            F.col("p.group_a").alias("group_a"),
            F.col("p.group_b").alias("group_b"),
        )
        .agg(F.count(F.lit(1)).alias("shared_shingles"))
    )
    sa = sizes.select(
        F.col("grp").alias("group_a"), F.col("n_sh").alias("n_a")
    )
    sb = sizes.select(
        F.col("grp").alias("group_b"), F.col("n_sh").alias("n_b")
    )
    return (
        inter.join(sa, "group_a")
        .join(sb, "group_b")
        .select(
            "group_a",
            "group_b",
            "shared_shingles",
            "n_a",
            "n_b",
            F.round(
                F.col("shared_shingles")
                / (F.col("n_a") + F.col("n_b") - F.col("shared_shingles")),
                6,
            ).alias("jaccard"),
            F.round(
                F.col("shared_shingles") / F.least("n_a", "n_b"), 6
            ).alias("containment"),
        )
    )


# ------------------------------------- fuzzy string join (edit distance)


def fuzzy_string_pairs(
    df: DataFrame,
    id_col: str,
    s_col: str,
    max_dist: int = 1,
) -> DataFrame:
    """All pairs of rows whose strings are within edit distance 1 —
    SymSpell-style delete-neighborhood blocking, then exact verify.

    Candidate generation: each string s yields the variant set
    {s} ∪ {s with one character deleted}. Two strings at Levenshtein
    distance <= 1 ALWAYS share a variant (substitution: the delete at
    the differing position; insert/delete: the shorter string IS a
    variant of the longer; equality: s itself) — so an EQUI-join on
    the variant finds every true pair, and `levenshtein` verifies
    exactly. Never an all-pairs comparison.

    100 TB shape: the variant explode is map-side (len+1 rows per
    string); the candidate join is a hash equi-join on the variant
    string; dedup + verify touch only candidate pairs. Popular
    strings make hot variant keys — exact duplicates should be
    collapsed (exact_dedup) BEFORE fuzzy matching, which also bounds
    the per-key fan-out. Mirrors the reference's similarity StringOps
    (StringOpsIR.cpp LEVENSHTEIN-family kernels) as a scalable JOIN
    rather than a per-row function.
    """
    if max_dist != 1:
        raise NotImplementedError(
            "fuzzy_string_pairs: only max_dist=1 (delete-1 "
            "neighborhoods); chain with a wider verifier for k=2"
        )
    # variants = {s} ∪ deletes1(s); substr with lambda-var bounds needs
    # the expr form (F.substring takes int positions only).
    # r13 optimization (guide §2.3/§4-adjacent): (a) spread the RAW rows
    # first so the delete-neighborhood transform runs after the
    # exchange on every core (projected before the repartition, the
    # single-partition scan computed it on one core — and the explode's
    # pushed-down emptiness filter re-evaluated it twice more); (b)
    # explode_outer, which carries no emptiness filter, keeps the
    # transform evaluated exactly once per row; (c) block on the 8-byte
    # xxhash64 of each variant, not the variant string — the candidate
    # join shuffles/broadcasts fixed-width longs instead of names, and
    # a hash collision can only add a candidate pair that the exact
    # levenshtein verify below already rejects.
    # both join sides recompute the variant explode — measured the
    # same as localCheckpoint at sf0.1 (the explode is cheaper than
    # materializing the variant table), and the visible Generate keeps
    # the plan assertion (tests/test_plans.py) honest
    variants = F.array_union(
        F.array(F.col("__s")),
        F.expr(
            "transform(sequence(1, length(__s)), i -> "
            "concat(substr(__s, 1, i - 1), substr(__s, i + 1)))"
        ),
    )
    # r14 (advice): drop null strings BEFORE the variant explode — a
    # null name can never match (levenshtein returns null), but
    # explode_outer emits a null-variant row whose xxhash64 is the
    # non-null seed hash, so all null rows would share one block key
    # and form O(k²) candidate pairs that only die at the verify.
    v = (
        _spread(
            df.select(F.col(id_col), F.col(s_col).alias("__s")).filter(
                F.col(s_col).isNotNull()
            ),
            id_col,
        )
        .select(id_col, "__s", F.explode_outer(variants).alias("__v0"))
        .select(id_col, "__s", F.xxhash64("__v0").alias("__v"))
    )
    a = v.select(
        F.col(id_col).alias("id_a"), F.col("__s").alias("s_a"), "__v"
    )
    b = v.select(
        F.col(id_col).alias("id_b"), F.col("__s").alias("s_b"), "__v"
    )
    cand = (
        a.join(b, "__v")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "s_a", "s_b")
        .distinct()
    )
    return cand.select(
        "id_a",
        "id_b",
        F.levenshtein("s_a", "s_b").alias("dist"),
    ).filter(F.col("dist") <= max_dist)
