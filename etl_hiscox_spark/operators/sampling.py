"""Sampling & splitting operators for training-data pipelines.

- :func:`hash_split` — deterministic train/val/test assignment from a
  content-stable hash of a key column. Unlike ``randomSplit`` (partition-
  order dependent) the assignment is a pure function of the key: re-runs,
  re-partitions, and other engines agree row-for-row — the property that
  matters when the split must be reproducible across a 100 TB re-shard.
- weighted and mixture sampling (:func:`weighted_sample`,
  :func:`mixture_sample`, :func:`upsample`, :func:`token_budget_sample`,
  :func:`gumbel_topk`) and sequence packing (:func:`pack_sequences`).
"""

from __future__ import annotations

from collections.abc import Mapping

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


HEX_PREFIX_LEN = 5  # 16^5 = 1,048,576 buckets — plenty for split weights


def hex_bounds(weights: Mapping[str, float], k: int = HEX_PREFIX_LEN) -> list[tuple[str, str]]:
    """(split_name, upper_hex_bound) thresholds over the first k hex chars
    of a sha256. String comparison on lowercase hex == numeric comparison,
    and every SQL engine can do it (BLOB/hex-int casts are not portable)."""
    total = sum(weights.values())
    if abs(total - 1.0) > 1e-6:
        raise ValueError(f"split weights must sum to 1.0, got {total}")
    out = []
    cum = 0.0
    for name, w in weights.items():
        cum += w
        bound = min(int(cum * (16**k)), 16**k - 1)
        out.append((name, format(bound, f"0{k}x")))
    return out


def hash_split(
    df: DataFrame,
    key: str,
    weights: Mapping[str, float],
    split_col: str = "split",
    on_null: str = "error",
) -> DataFrame:
    """Assign each row to a named split with probability ≈ its weight,
    deterministically by key hash.

    ``weights`` e.g. {"train": 0.8, "val": 0.1, "test": 0.1} (must sum to
    1.0 ± ε). Every row with the same key lands in the same split — safe
    for leakage-sensitive splits keyed by document/user id, and portable:
    the assignment is a string comparison on a sha256 hex prefix.

    NULL keys hash to NULL and would otherwise all fall into the final
    split (a systematic skew): ``on_null='error'`` (default) fails the job
    with a clear message; ``'last'`` opts into the final-split routing.
    """
    if on_null not in ("error", "last"):
        raise ValueError("on_null must be 'error' or 'last'")
    prefix = F.substring(F.sha2(F.col(key).cast("string"), 256), 1, HEX_PREFIX_LEN)
    expr = None
    bounds = hex_bounds(weights)
    for name, bound in bounds:
        cond = prefix < F.lit(bound)
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
    expr = expr.otherwise(F.lit(bounds[-1][0]))
    if on_null == "error":
        expr = F.when(
            F.col(key).isNull(),
            F.raise_error(F.lit(f"hash_split: NULL {key} cannot be split deterministically")),
        ).otherwise(expr)
    return df.withColumn(split_col, expr)


def _uniform01(key: str, seed: int, salt: int) -> Column:
    """Deterministic uniform draw in [0, 1) from (key, seed) — a pure
    function of the row key, so re-runs/re-shards reproduce selections
    exactly. ``salt`` differs per operator so composed samplers on the
    same key draw INDEPENDENT uniforms (same-salt draws are identical,
    making P(keep both) = min(p,q) instead of p·q)."""
    h = F.xxhash64(F.col(key), F.lit(salt), F.lit(seed))
    return F.shiftrightunsigned(h, 1) / F.lit(float(2**63))


_HEX13 = float(16**13)


def _portable_keep(key: str, w: Column, seed: int, salt: int) -> Column:
    """Engine-portable keep condition: the uniform draw is the first 13 hex
    chars of sha256("key:salt:seed") compared against the weight rendered
    as a 13-char hex threshold — string ops + sha256 only, all of which
    DuckDB/Trino/BigQuery share, so the SAME rows are selected by any
    engine (the :func:`hash_split` portability story, extended to per-row
    probabilities). P(keep) = floor(w·16^13)/16^13 — exact to 2^-52.
    w ≥ 1 keeps unconditionally (its 14-hex threshold would be TRUNCATED
    by lpad, not padded — both engines' lpad truncates overlong input)."""
    prefix = F.substring(
        F.sha2(F.concat_ws(":", F.col(key).cast("string"), F.lit(str(salt)), F.lit(str(seed))), 256),
        1,
        13,
    )
    threshold = F.lpad(
        F.lower(F.conv(F.floor(w * F.lit(_HEX13)).cast("long").cast("string"), 10, 16)),
        13,
        "0",
    )
    return (w >= 1.0) | (prefix < threshold)


def weighted_sample(
    df: DataFrame,
    weight_col: str | Column,
    key: str,
    seed: int = 0,
    portable: bool = False,
) -> DataFrame:
    """Importance sampling: keep each row with probability = its weight
    (clamped to [0, 1]; NaN/NULL weights drop the row) — e.g. quality-
    score-weighted corpus downsampling, where high-quality documents
    survive at a higher rate.

    Deterministic and zero-shuffle — a pure filter in the scan stage,
    expected output size sum(weights). NULL keys error out (they would
    all share one draw and be kept or dropped as a block — the same
    systematic skew :func:`hash_split` rejects).

    ``portable=False`` (default) draws from xxhash64 (see
    :func:`_uniform01`) — the fast JVM-native path. ``portable=True``
    draws from a sha256 hex prefix (:func:`_portable_keep`) so the exact
    selection reproduces on any engine with sha256 — use when the sample
    must be re-derivable outside Spark (audits, cross-engine parity); the
    declared query t12 runs this form against its DuckDB twin.
    """
    w = (F.col(weight_col) if isinstance(weight_col, str) else weight_col).cast("double")
    w = F.when(w.isNull() | F.isnan(w), F.lit(0.0)).otherwise(
        F.least(F.greatest(w, F.lit(0.0)), F.lit(1.0))
    )
    if portable:
        keep = _portable_keep(key, w, seed, salt=2)
    else:
        keep = _uniform01(key, seed, salt=2) < w
    keep = F.when(
        F.col(key).isNull(),
        F.raise_error(F.lit(f"weighted_sample: NULL {key} cannot be sampled deterministically")),
    ).otherwise(keep)
    return df.filter(keep)


def mixture_sample(
    sources: Mapping[str, DataFrame],
    weights: Mapping[str, float],
    key: str,
    seed: int = 0,
    source_col: str = "source",
    portable: bool = False,
) -> DataFrame:
    """Draw the largest corpus that follows a target source mixture.

    ``weights`` is the desired composition (e.g. {"web": 0.7, "code": 0.3});
    the achievable total is capped by the scarcest source
    (T = min(n_i / w_i)), every other source is downsampled to w_i·T rows
    in expectation. Selection is a pure function of (key, seed) —
    xxhash64-uniform per row under a fraction threshold — so re-runs and
    re-partitions reproduce the same corpus exactly (unlike ``sample``,
    whose output depends on partition layout). Source sizes come from ONE
    union-groupBy job over zero-column scans (parquet answers those from
    footer row counts) — not one ``count()`` action per source.

    Returns the union with a ``source`` tag column; schemas must match.
    ``portable=True`` swaps the xxhash64 draw for the sha256 hex-prefix
    form (:func:`_portable_keep`) — the per-source fractions are plain
    IEEE-double arithmetic on exact counts, so any engine with sha256
    re-derives the identical corpus (t7's DuckDB oracle does).
    """
    if set(sources) != set(weights):
        raise ValueError(f"sources {sorted(sources)} != weights {sorted(weights)}")
    total_w = sum(weights.values())
    if total_w <= 0:
        raise ValueError("weights must sum to a positive value")
    norm = {k: w / total_w for k, w in weights.items()}
    tagged = None
    for name, df in sources.items():
        t = df.select(F.lit(name).alias("__src"))
        tagged = t if tagged is None else tagged.unionAll(t)
    counted = {
        r["__src"]: r["n"]
        for r in tagged.groupBy("__src").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    counts = {k: counted.get(k, 0) for k in sources}
    for k, n in counts.items():
        if n == 0 and norm[k] > 0:
            raise ValueError(f"source {k!r} is empty — mixture unachievable")
    t_max = min(counts[k] / w for k, w in norm.items() if w > 0)
    out = None
    for name, df in sources.items():
        if norm[name] == 0:
            continue  # zero-weight source: contributes no rows by definition
        frac = min(1.0, norm[name] * t_max / counts[name])
        if portable:
            keep = _portable_keep(key, F.lit(frac), seed, salt=1)
        else:
            keep = _uniform01(key, seed, salt=1) < F.lit(frac)
        picked = df.filter(keep).withColumn(source_col, F.lit(name))
        out = picked if out is None else out.unionByName(picked)
    return out


# Largest hash group that one best-fit-decreasing fold packs (see
# :func:`pack_sequences`); a larger group is split into equal sub-groups.
PACK_FOLD_CAP = 2048


def pack_sequences(
    df: DataFrame,
    id_col: str,
    token_col: str,
    budget: int,
    n_groups: int = 256,
    pack_col: str = "pack_id",
    by: str | None = None,
) -> DataFrame:
    """Assign documents to training shards ("packs") of ≤ ``budget`` tokens.

    The pre-tokenization step of sequence packing: greedy best-fit-
    decreasing runs independently inside ``n_groups`` hash groups (one
    shuffle, each group packs locally, pack ids are globally unique via
    the group prefix). BFD within a group wastes ≤~22% of OPT in the
    worst case and far less in practice; running it per hash group
    instead of globally costs at most one underfull pack per group —
    negligible when groups hold thousands of documents, and it's what
    makes the algorithm distribute. Documents longer than the budget get
    a closed singleton pack (callers truncate/split downstream); a NULL
    token count fails loudly. Deterministic: group = xxhash64(id), ties
    broken by id (equal-capacity packs by lowest pack index).

    The whole pass is Catalyst expressions, so it starts no Python
    worker: each group's rows are collected and sorted by (-tokens, id),
    and BFD is an ``aggregate`` fold whose state is the group's packs as
    (remaining, index, member positions) structs — a closed pack's
    remaining capacity is NULL. Each step takes ``array_min`` over the
    packs that still fit the item. The fold is interpreted and scans
    every pack per item, so one group costs O(m²).
    ``tools/probe_pack_fold.py`` measured one group warm (token counts
    5-64, budget 1024, ``local[4]``, 4 vCPUs) unsplit at 0.42 s for 4k
    items, 0.81 s for 8k and 2.28 s for 16k, about 0.3 s of each being the
    job itself. A group of more than ``PACK_FOLD_CAP`` items is therefore
    split into ``ceil(m / PACK_FOLD_CAP)`` equal sub-groups by rank of a
    second hash of the id, each folded on its own row, which keeps the
    cost linear: 0.71 s for 16k, 1.63 s for 64k, 5.45 s for 256k (a cap of
    1024 gave 4.0 s and one of 4096 9.9 s at 256k). Like a hash group, a
    sub-group costs at most one underfull pack. Groups at or below the
    cap get ids ``"{grp}-{idx}"``; sub-group ``s`` of a split group gets
    ``"{grp}.{s}-{idx}"``.

    ``by`` packs each value of that column on its own in the same pass:
    groups are ``(by, hash group)`` and pack ids carry a ``"{by}/"``
    prefix, so one grouped call over train/val/test assigns exactly the
    ids a per-split loop would (BFD already runs per group) without a
    union of per-split plans.

    Returns every input row, its columns unchanged, plus ``pack_col``:
    callers keep their payload columns without joining pack ids back by
    ``id_col``, a join that would fan out on a repeated id.
    """
    cols = df.columns
    tok = F.col(token_col).cast("long")
    tok = F.when(
        tok.isNull(),
        F.raise_error(F.lit(f"pack_sequences: NULL {token_col} cannot be packed")),
    ).otherwise(tok)
    item = F.struct(
        F.hash(F.col(id_col)).alias("h"),  # the sub-group hash
        (-tok).alias("neg"),
        F.col(id_col).alias("id"),
        F.struct(*[df[c] for c in cols]).alias("row"),
    )
    grp = (F.shiftrightunsigned(F.xxhash64(F.col(id_col)), 1) % n_groups).alias("__grp")
    keys = ["__grp"] if by is None else [by, "__grp"]
    groups = df.select(*([] if by is None else [by]), grp, item.alias("__item"))
    groups = groups.groupBy(*keys).agg(F.collect_list("__item").alias("__items"))

    # Sub-group s takes the ranks [ceil(s*m/k), ceil((s+1)*m/k)) of the
    # second hash; each run is sorted into BFD order and carries its own
    # rows, so no later operator copies the whole group per run or per row.
    m = F.size("__items")
    k = F.ceil(m / F.lit(PACK_FOLD_CAP)).cast("int")

    def start(s: Column) -> Column:
        return F.ceil(s * m / k).cast("int")

    def cut(by_hash: Column) -> Column:
        def run(s: Column) -> Column:
            ranks = F.slice(by_hash, start(s) + 1, start(s + 1) - start(s))
            keyed = F.sort_array(
                F.transform(
                    ranks,
                    lambda e: F.struct(
                        e["neg"].alias("neg"), e["id"].alias("id"), e["i"].alias("i")
                    ),
                )
            )
            return F.transform(
                keyed,
                lambda e, j: F.struct(
                    (-e["neg"]).alias("t"),
                    j.alias("j"),
                    F.col("__items")[e["i"]]["row"].alias("row"),
                ),
            )

        return F.transform(F.sequence(F.lit(0), k - 1), run)

    by_hash = F.sort_array(
        F.transform(
            "__items",
            lambda r, i: F.struct(
                r["h"].alias("h"), r["id"].alias("id"), r["neg"].alias("neg"), i.alias("i")
            ),
        )
    )
    groups = groups.select(*keys, "__items", k.alias("__k"))
    runs = groups.select(*keys, "__k", F.posexplode(_let(by_hash, cut)).alias("__sub", "__run"))

    def fits(rem: Column) -> Column:
        return F.when(rem > 0, rem)  # NULL remaining = closed pack

    def place(packs: Column, e: Column) -> Column:
        t = e["t"]
        opened = F.concat(
            packs,
            F.array(
                F.struct(
                    fits(F.lit(budget) - t).alias("rem"),
                    F.size(packs).alias("idx"),
                    F.array(e["j"]).alias("items"),
                )
            ),
        )

        def filled(b: Column) -> Column:
            # packs sit at their own index: replace the chosen one by
            # slicing around it
            idx = b["idx"]
            grown = F.struct(
                fits(b["rem"] - t).alias("rem"),
                idx.alias("idx"),
                F.concat(b["items"], F.array(e["j"])).alias("items"),
            )
            return F.concat(
                F.slice(packs, 1, idx), F.array(grown), F.slice(packs, idx + 2, F.size(packs))
            )

        best = F.array_min(F.filter(packs, lambda p: p["rem"] >= t))
        return _let(best, lambda b: F.when(b.isNull(), opened).otherwise(filled(b)))

    empty = F.expr("cast(array() as array<struct<rem:bigint,idx:int,items:array<int>>>)")
    members = F.flatten(
        F.transform(
            F.aggregate("__run", empty, place),
            lambda p: F.transform(
                p["items"],
                lambda j: F.struct(
                    F.col("__run")[j]["row"].alias("__row"), p["idx"].alias("__idx")
                ),
            ),
        )
    )
    out = runs.select(*keys, "__k", "__sub", F.inline(members))
    pack_id = F.when(
        F.col("__k") == 1, F.format_string("%d-%d", "__grp", "__idx")
    ).otherwise(F.format_string("%d.%d-%d", "__grp", "__sub", "__idx"))
    if by is not None:
        pack_id = F.concat(F.format_string("%s/", by), pack_id)
    return out.select(*[F.col("__row")[c].alias(c) for c in cols], pack_id.alias(pack_col))


def _let(value: Column, body) -> Column:
    """``body(value)`` with ``value`` evaluated once: a lambda argument is
    bound once, where an expression repeated in ``body`` (or inside a
    lambda of it) is evaluated at every use."""
    return F.transform(F.array(value), body)[0]


def upsample(
    df: DataFrame,
    weight_col: str | Column,
    key: str,
    seed: int = 0,
    copy_col: str = "copy_id",
    portable: bool = False,
    max_weight: float = 100.0,
) -> DataFrame:
    """Repeat-factor upsampling: each row emits ``floor(w)`` copies plus
    one more with probability ``frac(w)`` — E[#copies] = w exactly, with
    weights above ``max_weight`` failing the job loudly (never clamped).

    The other half of mixture weighting: :func:`weighted_sample` covers
    w ≤ 1 (downsampling); data-mixture recipes that REPEAT rare
    high-quality sources (2-5× epochs for curated corpora) need w > 1.
    Zero shuffle — the copy count is a scan-stage expression and copies
    materialize via sequence+explode; ``copy_col`` (0..n-1) keeps the
    duplicates distinguishable downstream (dedup keys, shard packing)
    and the output a pure deterministic function of (key, seed).

    NULL keys error (same policy as every sampler here); NULL/NaN
    weights emit zero copies. ``portable=True`` draws the fractional
    coin from the sha256 hex prefix (:func:`_portable_keep`) so any
    engine reproduces the exact copy set — the declared t22 query runs
    that form against its DuckDB twin.
    """
    w = (F.col(weight_col) if isinstance(weight_col, str) else weight_col).cast("double")
    w = F.when(w.isNull() | F.isnan(w), F.lit(0.0)).otherwise(F.greatest(w, F.lit(0.0)))
    # Hard ceiling, enforced LOUDLY: a buggy upstream weight (1e9 from a
    # unit mix-up) would sequence-explode one row into a partition-killing
    # array — but silently clamping would break the E[#copies]=w contract
    # (and diverge from the uncapped t22 oracle). 100 epochs is far beyond
    # any real mixture recipe; raise max_weight consciously if you need it.
    w = F.when(
        w > F.lit(float(max_weight)),
        F.raise_error(
            F.concat(
                F.lit(f"upsample: weight exceeds max_weight={max_weight} (got "),
                w.cast("string"),
                F.lit(") — a runaway weight would explode one row into a partition-killing array"),
            )
        ),
    ).otherwise(w)
    base = F.floor(w).cast("long")
    frac = w - base
    if portable:
        extra = _portable_keep(key, frac, seed, salt=3)
    else:
        extra = _uniform01(key, seed, salt=3) < frac
    n = base + extra.cast("long")
    n = F.when(
        F.col(key).isNull(),
        F.raise_error(F.lit(f"upsample: NULL {key} cannot draw deterministically")),
    ).otherwise(n)
    return (
        df.withColumn("__n_copies", n)
        .filter(F.col("__n_copies") >= 1)
        .withColumn(copy_col, F.explode(F.sequence(F.lit(0), F.col("__n_copies") - 1)))
        .drop("__n_copies")
    )


def token_budget_sample(
    df: DataFrame,
    group_col: str,
    token_count: Column,
    key: str,
    budget: int,
    seed: int = 0,
) -> DataFrame:
    """Per-group token-budget selection — the "data recipe" primitive: take
    documents from each group (source/domain/language) in a deterministic
    pseudo-random priority order until the group's cumulative token count
    reaches ``budget``, then stop. A training mix spec like "50 B tokens
    of web, 5 B of code" is one call per line of the recipe.

    Priority is the sha256 hex prefix of "key:tb:seed" (engine-portable:
    any engine with sha256 reproduces the SAME selection — the
    :func:`hash_split` story), with the key itself as tiebreak. A doc is
    kept while the RUNNING total through it stays ≤ budget; the first doc
    that would cross the line is dropped, as is everything after it
    (greedy prefix, no partial documents — deterministic, unlike
    "fill to exactly budget" which would need doc splitting).

    Plan at 100 TB: token counts ride the scan stage (expression);
    selection is ONE window shuffle on ``group_col`` — no global sort, no
    driver state. Skewed groups are inherent (the window must see a whole
    group ordered); recipes with few giant groups should pre-split
    sources into finer shards upstream.

    Output: input columns + ``n_tokens``, ``cum_tokens`` (running total
    through this row), filtered to the kept prefix.
    """
    from pyspark.sql import Window

    prio = F.substring(
        F.sha2(
            F.concat_ws(":", F.col(key).cast("string"), F.lit("tb"), F.lit(str(seed))), 256
        ),
        1,
        16,
    )
    w = (
        Window.partitionBy(group_col)
        .orderBy(prio.asc(), F.col(key).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        df.withColumn("n_tokens", token_count.cast("bigint"))
        .withColumn("cum_tokens", F.sum("n_tokens").over(w))
        .filter(F.col("cum_tokens") <= F.lit(int(budget)))
    )


def gumbel_topk(
    df: DataFrame,
    weight: Column,
    key: str,
    k: int,
    seed: int = 0,
    key_col: str = "gumbel_key",
) -> DataFrame:
    """Weighted sampling WITHOUT replacement as a top-k: the Gumbel-max
    trick (public folklore; equivalently Efraimidis-Spirakis A-Res keys).
    Each row draws an engine-portable uniform from its sha256 prefix and
    scores ``ln(w) + gumbel(u)``; the global top-k by that score is an
    exact weighted sample without replacement.

    Why this shape at 100 TB: "sample 1M docs proportional to quality
    weight" becomes TakeOrderedAndProject — no global sort, no multi-pass
    reservoir, no driver state; every engine with sha256+ln reproduces
    the same selection. Zero-weight (or negative/NULL) rows are excluded
    up front — ln would reject them, and P(select)=0 anyway.

    Output: input columns + ``key_col``; exactly k rows (fewer if the
    positive-weight population is smaller).
    """
    w = weight.cast("double")
    h = F.conv(
        F.substring(
            F.sha2(
                F.concat_ws(
                    ":", F.col(key).cast("string"), F.lit("gum"), F.lit(str(seed))
                ),
                256,
            ),
            1,
            13,
        ),
        16,
        10,
    ).cast("long")
    u = (h.cast("double") + F.lit(0.5)) / F.lit(_HEX13)  # strictly inside (0,1)
    g = -F.log(-F.log(u))
    return (
        df.filter(w > 0)
        .withColumn(key_col, F.log(w) + g)
        .orderBy(F.col(key_col).desc(), F.col(key).asc())
        .limit(int(k))
    )
