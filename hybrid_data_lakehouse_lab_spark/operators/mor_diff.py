"""Shared merge-on-read position diff for the table-format exporters.

Both the Iceberg v2 exporter (operators/iceberg_meta.py, positional
delete files) and the Delta exporter (operators/delta_log.py, deletion
vectors) re-express a pure-delete snapshot transition as "parent's
files + deleted (file, row-position) pairs". This module holds the one
distributed diff both share.
"""

from __future__ import annotations

from .footer import read_footer

_SCHEME_RE = "^[a-zA-Z0-9+.-]+:/+"

#: Cap on the candidate positions in PARTIALLY changed hash groups that
#: the collision verification broadcasts (as their distinct (h1, h2)
#: pairs, at most 16 bytes each). Above it both hash diffs return None
#: and the exporter takes the always-correct rewrite path instead of
#: building a broadcast that could exhaust the driver.
MAX_VERIFY_CANDIDATES = 1_000_000


def _fresh_names(taken, *bases) -> list[str]:
    """Working-column names guaranteed absent from `taken` (a table with
    a real `_f`/`_rk`/... column must not have it silently replaced by
    `withColumn` and then excluded from the identity key — that would
    corrupt the exported diff). Prepends underscores until unique."""
    taken = set(taken)
    out = []
    for b in bases:
        n = b
        while n in taken:
            n = "_" + n
        taken.add(n)
        out.append(n)
    return out


def guard_reserved_columns(columns, reserved, context: str) -> None:
    """Refuse loudly when a snapshot schema collides with a reader's
    internal working columns (`withColumn` would silently replace the
    data column). Readers that join against literal-schema mapping
    frames can't rename on the fly, so an explicit error beats silent
    column loss."""
    clash = sorted(set(columns) & set(reserved))
    if clash:
        raise ValueError(
            f"{context}: table schema contains reserved working column"
            f" name(s) {clash}; rename the column(s) to read this table"
        )


def _row_key_cols(df, cols):
    """Columns for a full-row struct compare key, with VariantType
    columns replaced by their JSON string cast — variant is not
    comparable/groupable in Spark, and for diff purposes two rows are
    equal iff their variants' canonical JSON forms are equal (the same
    binary always prints the same JSON)."""
    from pyspark.sql import functions as F

    vt = {
        f.name
        for f in df.schema.fields
        if f.dataType.simpleString() == "variant"
    }
    return [
        F.col(c).cast("string").alias(c) if c in vt else F.col(c)
        for c in cols
    ]


#: Salt for the second 64-bit hash lane of the 128-bit row-value hash.
#: Any fixed non-zero literal works; prepending it to the column list
#: shifts the whole xxhash64 running-hash chain, making the two lanes
#: behave as independent hash functions.
_H2_SALT = -6148914691236517206  # 0xAAAA...AAAA as signed int64


def _row_hash_cols(df, cols):
    """Two xxhash64 columns forming a 128-bit hash of the row VALUE
    (the same value semantics as the full-row struct key in
    `_row_key_cols`: variant columns compare by canonical JSON).

    Null handling: Spark's xxhash64 SKIPS null inputs (the running
    hash is unchanged for a null child), so (null, 'a') and ('a', null)
    would collide deterministically. Interleaving an `isnull` flag per
    column re-injects the null positions into the hash stream, so only
    genuine 128-bit collisions remain (~N²/2¹²⁹ for N rows).

    Float nuance: struct grouping normalizes -0.0/0.0 and NaN
    (`normalizenanandzero`); xxhash64 hashes raw bits, so a base -0.0
    row and a child 0.0 row land in DIFFERENT hash groups. That can
    only make the diff more conservative — the child-side group shows
    excess, the caller's count identity fails, and the exporter falls
    back to the (always correct) rewrite model. It can never select a
    wrong position."""
    from pyspark.sql import functions as F

    kcols = _row_key_cols(df, cols)
    hcols = []
    for c in kcols:
        hcols.append(c)
        hcols.append(F.isnull(c))
    return F.xxhash64(*hcols), F.xxhash64(F.lit(_H2_SALT), *hcols)


def _rank_minus_counts(
    base_kfp, child_counts, k_cols, _f, _p, _nc, _r, keep_nc: bool = False
):
    """Shared core of the position diff: rank base occurrences per key
    group by (file, pos) and keep the occurrences ranked past the
    child's multiplicity for that key — Σ_k max(0, base_k − child_k)
    positions. `k_cols` is the grouping key column name list (full-row
    struct or 128-bit hash pair); join is null-safe only for the struct
    form (hashes are never null, and plain equi-keys keep the join a
    hash join with small codegen). With `keep_nc` the joined child
    multiplicity rides along (null = the key vanished from the child
    entirely) — the hash paths use it to split fully-deleted groups,
    which are exact by construction, from partially-deleted ones, which
    need the collision verification."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    w = Window.partitionBy(*k_cols).orderBy(_f, _p)
    ranked = base_kfp.withColumn(_r, F.row_number().over(w)).alias("rk")
    cc = child_counts.alias("cc")
    if len(k_cols) == 1:
        cond = F.col(f"rk.{k_cols[0]}").eqNullSafe(F.col(f"cc.{k_cols[0]}"))
    else:
        cond = None
        for k in k_cols:
            e = F.col(f"rk.{k}") == F.col(f"cc.{k}")
            cond = e if cond is None else (cond & e)
    keep = [F.col(f"rk.{c}").alias(c) for c in base_kfp.columns]
    if keep_nc:
        keep.append(F.col(_nc))
    return (
        ranked.join(cc, cond, "left")
        .where(F.col(_nc).isNull() | (F.col(_r) > F.col(_nc)))
        # re-qualify: both sides carry the key columns after the join
        .select(*keep)
    )


def _hashed_delete_candidates(base, child, cols, _f, _p, _r, _nc, _h1, _h2):
    """LAZY candidate delete positions (_h1, _h2, _f, _p) of the narrow
    hash-keyed diff — factored out so plan captures can explain the
    full diff plan (the caller checkpoint-materializes it, which hides
    the plan behind a LogicalRDD)."""
    from pyspark.sql import functions as F

    h1, h2 = _row_hash_cols(child, cols)
    b = (
        base.withColumn(_h1, h1)
        .withColumn(_h2, h2)
        .select(_h1, _h2, _f, _p)
    )
    child_counts = (
        child.withColumn(_h1, h1)
        .withColumn(_h2, h2)
        .groupBy(_h1, _h2)
        .agg(F.count(F.lit(1)).alias(_nc))
    )
    return _rank_minus_counts(
        b, child_counts, [_h1, _h2], _f, _p, _nc, _r, keep_nc=True
    ).select(_h1, _h2, _f, _p, _nc)


def _position_delete_diff(
    spark,
    base_dirs,
    deleted_so_far,
    child_dir: str,
    check_excess: bool = True,
):
    """If `child_dir`'s rows are a sub-multiset of the MASKED base
    (the union of `base_dirs`' files — one dir or a [base, *append
    delta] list — minus the already-deleted positions in
    `deleted_so_far`, a DataFrame(file_path, pos) or None), return a
    DataFrame(file_path STRING, pos BIGINT) of the NEW positions to
    delete; else return None (the transition needs a rewrite, not a
    delete).

    Distributed by construction — no driver-side row materialization:
    one shuffle groups base rows by a full-row struct key (null-safe),
    `row_number()` over (file, pos) ranks duplicate occurrences
    deterministically, and occurrences ranked past the child's
    multiplicity for that value are the deleted positions. With
    `check_excess` the sub-multiset check runs as its own probe job
    (the same join read the other way: any child value with
    multiplicity above the base's ⇒ not delete-expressible).

    `check_excess=False` SKIPS that probe — halving the diff's
    scan+shuffle work — for callers that validate by count identity
    instead: the returned positions are Σ_k max(0, base_k − child_k)
    per row-value k, so the child is a sub-multiset iff
    |masked base| − |positions| == |child|, and both exporters already
    hold those totals from parquet footers. On that cheaper path a
    count mismatch means "not a pure delete", and the caller falls
    back to the rewrite model.

    NARROW SHUFFLE (round 12, guide §2.3/§8): the `check_excess=False`
    path groups by a 128-bit row-value hash (two xxhash64 lanes)
    instead of the full-row struct, so the diff's one shuffle carries
    (hash, file, pos) — ~32 B + path per row — rather than every data
    column. Exactness is kept by a collision-verification pass: the
    full-value diff is re-run restricted to the deletion-AFFECTED hash
    groups (a broadcast semi-join of the scans against the candidate
    groups — the candidate set is delete-sized, the expected overlap
    with child is ~0 rows) and must reproduce the candidate position
    set exactly, else the diff returns None and the caller falls back
    to the always-correct rewrite model. A wrong delete set would
    additionally require a 128-bit collision between two distinct row
    values confined to an equal-count group the child never perturbs
    (~N²/2¹²⁹ ≈ 10⁻²³ at 10⁸ rows) AND pass the caller's count
    identity. The returned positions are localCheckpoint-materialized
    (the verification consumes them; callers re-pin for free). The
    `check_excess=True` path keeps the full-row struct key — it is the
    exact-probe mode used directly by tests and ad-hoc callers."""
    from pyspark.sql import functions as F

    dirs = [base_dirs] if isinstance(base_dirs, str) else list(base_dirs)
    scans = [spark.read.parquet(d) for d in dirs]
    _f, _p, _k, _r, _nc, _nb, _h1, _h2 = _fresh_names(
        scans[0].columns, "_f", "_p", "_k", "_r", "_nc", "_nb", "_h1", "_h2"
    )
    parts = [
        s.withColumn(
            _f, F.regexp_replace(F.col("_metadata.file_path"), _SCHEME_RE, "/")
        ).withColumn(_p, F.col("_metadata.row_index"))
        for s in scans
    ]
    base = parts[0]
    for x in parts[1:]:
        base = base.unionByName(x)
    if deleted_so_far is not None:
        dels = deleted_so_far.select(
            F.col("file_path").alias(_f), F.col("pos").alias(_p)
        )
        base = base.join(F.broadcast(dels), [_f, _p], "left_anti")
    child = spark.read.parquet(child_dir)
    cols = sorted(c for c in base.columns if c not in (_f, _p))
    if sorted(child.columns) != cols:
        return None  # schema changed: not expressible as deletes
    key = F.struct(*_row_key_cols(child, cols))
    if check_excess:
        b = base.withColumn(_k, key).select(_k, _f, _p)
        child_counts = (
            child.withColumn(_k, key)
            .groupBy(_k)
            .agg(F.count(F.lit(1)).alias(_nc))
        )
        base_counts = b.groupBy(_k).agg(F.count(F.lit(1)).alias(_nb))
        cc, bc = child_counts.alias("cc"), base_counts.alias("bc")
        excess = (
            cc.join(bc, F.col(f"cc.{_k}").eqNullSafe(F.col(f"bc.{_k}")), "left")
            .where(F.col(_nb).isNull() | (F.col(_nc) > F.col(_nb)))
            .limit(1)
            .count()
        )
        if excess:
            return None
        return _rank_minus_counts(
            b, child_counts, [_k], _f, _p, _nc, _r
        ).select(F.col(_f).alias("file_path"), F.col(_p).alias("pos"))

    # --- narrow 128-bit-hash path (count-identity callers) ---
    h1, h2 = _row_hash_cols(child, cols)
    cand = _hashed_delete_candidates(
        base, child, cols, _f, _p, _r, _nc, _h1, _h2
    ).localCheckpoint()
    # Collision verification — PARTIAL groups only. A candidate group
    # whose joined child multiplicity is NULL vanished from the child
    # entirely; deleting ALL its occurrences is exact even under a hash
    # collision, because any colliding value's child rows would hash
    # into the same group — the child provably holds none of the
    # group's values. Only PARTIALLY-deleted groups (the child keeps
    # some occurrences) depend on the ranking choosing value-correct
    # occurrences, so only they are re-checked against the full-value
    # diff (broadcast semi-join of the scans against the partial
    # groups). On unique-row tables this set is EMPTY and verification
    # costs one count on the checkpointed candidates — measured: the
    # blanket affected-group verification re-scanned base+child per
    # commit and cost more than the narrow shuffle saved (interleaved
    # A/B, tools/ab_mor_diff.py).
    cand_partial = cand.where(F.col(_nc).isNotNull())
    n_partial = cand_partial.count()
    if n_partial > MAX_VERIFY_CANDIDATES:
        return None  # verification set too big to broadcast: rewrite
    if n_partial:
        aff = cand_partial.select(_h1, _h2).distinct()
        base_aff = (
            base.withColumn(_h1, h1)
            .withColumn(_h2, h2)
            .join(F.broadcast(aff), [_h1, _h2], "left_semi")
            .withColumn(_k, key)
            .select(_k, _f, _p)
        )
        child_aff_counts = (
            child.withColumn(_h1, h1)
            .withColumn(_h2, h2)
            .join(F.broadcast(aff), [_h1, _h2], "left_semi")
            .withColumn(_k, key)
            .groupBy(_k)
            .agg(F.count(F.lit(1)).alias(_nc))
        )
        exact = (
            _rank_minus_counts(
                base_aff, child_aff_counts, [_k], _f, _p, _nc, _r
            )
            .select(_f, _p)
            .localCheckpoint()
        )
        if (
            exact.count() != n_partial
            or exact.join(cand_partial, [_f, _p], "inner").count() != n_partial
        ):
            return None  # 128-bit collision in a partial group: rewrite
    return cand.select(F.col(_f).alias("file_path"), F.col(_p).alias("pos"))


def _append_diff(
    spark,
    base_dirs,
    deleted_so_far,
    child_dir: str,
    base_rows: int | None = None,
    child_rows: int | None = None,
):
    """If `child_dir`'s rows are a super-multiset of the MASKED base
    (the union of `base_dirs`' files minus the already-deleted
    positions in `deleted_so_far` — a DataFrame(file_path, pos) or
    None), return a DataFrame of the APPENDED rows (child minus base —
    exact multiset difference); else return None (the transition needs
    a rewrite, not an append).

    Mirror image of `_position_delete_diff`'s narrow path (round 12,
    guide §2.3/§8): the append positions are computed per 128-bit
    row-value hash group (child occurrences ranked past the base's
    multiplicity), so the diff's shuffle carries (hash, file, pos)
    instead of full rows, and the super-multiset probe is the count
    identity Σ max(0, child_k − base_k) == |child| − |masked base| —
    one count on the checkpointed candidates instead of the former
    full-width `base.exceptAll(child)` probe job. The appended FULL
    rows move exactly once: a (file, pos) semi-join against the child
    scan (they would move into the append files regardless). Exactness
    is kept the same way as the delete diff: the full-value diff is
    re-run restricted to the append-affected hash groups and must
    reproduce the candidate position set, else None (rewrite model).
    Pass `base_rows` (MASKED live rows) / `child_rows` when the caller
    already holds them (parquet footers) to skip the two count jobs."""
    from pyspark.sql import functions as F

    dirs = [base_dirs] if isinstance(base_dirs, str) else list(base_dirs)
    scans = [spark.read.parquet(d) for d in dirs]
    child = spark.read.parquet(child_dir)
    if any(sorted(s.dtypes) != sorted(child.dtypes) for s in scans):
        return None  # schema/layout changed: not expressible as appends
    if any(t == "variant" for _, t in child.dtypes):
        # the appended rows must keep their original binary form, and
        # the exact verification pass compares full values — fall back
        # to the (always correct) rewrite model for variant tables
        return None
    _f, _p, _k, _r, _nc, _h1, _h2 = _fresh_names(
        child.columns, "_f", "_p", "_k", "_r", "_nc", "_h1", "_h2"
    )
    parts = [
        s.withColumn(
            _f, F.regexp_replace(F.col("_metadata.file_path"), _SCHEME_RE, "/")
        ).withColumn(_p, F.col("_metadata.row_index"))
        for s in scans
    ]
    base = parts[0]
    for x in parts[1:]:
        base = base.unionByName(x)
    if deleted_so_far is not None:
        dels = deleted_so_far.select(
            F.col("file_path").alias(_f), F.col("pos").alias(_p)
        )
        base = base.join(F.broadcast(dels), [_f, _p], "left_anti")
    cols = sorted(child.columns)
    h1, h2 = _row_hash_cols(child, cols)
    key = F.struct(*_row_key_cols(child, cols))
    child_fp = child.withColumn(
        _f, F.regexp_replace(F.col("_metadata.file_path"), _SCHEME_RE, "/")
    ).withColumn(_p, F.col("_metadata.row_index"))
    c_kfp = (
        child_fp.withColumn(_h1, h1)
        .withColumn(_h2, h2)
        .select(_h1, _h2, _f, _p)
    )
    base_counts = (
        base.withColumn(_h1, h1)
        .withColumn(_h2, h2)
        .groupBy(_h1, _h2)
        .agg(F.count(F.lit(1)).alias(_nc))
    )
    cand = (
        _rank_minus_counts(
            c_kfp, base_counts, [_h1, _h2], _f, _p, _nc, _r, keep_nc=True
        )
        .select(_h1, _h2, _f, _p, _nc)
        .localCheckpoint()
    )
    n = cand.count()
    n_base = base.count() if base_rows is None else base_rows
    n_child = child.count() if child_rows is None else child_rows
    if n != n_child - n_base:
        return None  # some base row missing from child: not an append
    # Collision verification — PARTIAL groups only (mirror of the
    # delete diff): a candidate group whose joined BASE multiplicity
    # is NULL is entirely new — appending all its child occurrences
    # is exact even under a collision, because the base provably
    # holds none of the group's values. Only groups the base
    # partially covers depend on the ranking choosing value-correct
    # occurrences; on unique-row tables this set is empty.
    cand_partial = cand.where(F.col(_nc).isNotNull())
    n_partial = cand_partial.count()
    if n_partial > MAX_VERIFY_CANDIDATES:
        return None  # verification set too big to broadcast: rewrite
    if n_partial:
        aff = cand_partial.select(_h1, _h2).distinct()
        child_aff = (
            child_fp.withColumn(_h1, h1)
            .withColumn(_h2, h2)
            .join(F.broadcast(aff), [_h1, _h2], "left_semi")
            .withColumn(_k, key)
            .select(_k, _f, _p)
        )
        base_aff_counts = (
            base.withColumn(_h1, h1)
            .withColumn(_h2, h2)
            .join(F.broadcast(aff), [_h1, _h2], "left_semi")
            .withColumn(_k, key)
            .groupBy(_k)
            .agg(F.count(F.lit(1)).alias(_nc))
        )
        exact = (
            _rank_minus_counts(
                child_aff, base_aff_counts, [_k], _f, _p, _nc, _r
            )
            .select(_f, _p)
            .localCheckpoint()
        )
        if (
            exact.count() != n_partial
            or exact.join(cand_partial, [_f, _p], "inner").count()
            != n_partial
        ):
            return None  # 128-bit collision in a partial group: rewrite
    return child_fp.join(
        F.broadcast(cand.select(_f, _p)) if n <= 1_000_000 else cand.select(_f, _p),
        [_f, _p],
        "left_semi",
    ).select(*child.columns)


def finalize_spark_parts(
    out_dir: str, prefix: str, drop_empty: bool = True
) -> list[dict]:
    """Post-process a Spark parquet output directory into deterministic
    spec-file references: remove _SUCCESS and friends, drop zero-row
    part files (optional), rename parts to `{prefix}-NNNNN.parquet` in
    sorted walk order (stable names across re-exports), and decode hive
    partition dirs into raw-string partition values. One implementation
    shared by the position-delete, equality-delete/upsert and
    change-data writers — the rename/cleanup contract must not drift
    between them. Returns [{path, record_count, size, partition}];
    removes `out_dir` entirely when nothing survives."""
    import os
    import urllib.parse

    part_files = []
    for dirpath, dirnames, filenames in os.walk(out_dir):
        dirnames.sort()
        for fn in sorted(filenames):
            full = os.path.join(dirpath, fn)
            if fn.endswith(".parquet") and not fn.startswith((".", "_")):
                part_files.append((dirpath, fn))
            elif os.path.isfile(full) and not fn.endswith(".parquet"):
                os.remove(full)  # _SUCCESS & friends
    out = []
    j = 0
    for dirpath, fn in part_files:
        full = os.path.join(dirpath, fn)
        num_rows = read_footer(full).num_rows
        if drop_empty and num_rows == 0:
            os.remove(full)
            continue
        dst = os.path.join(dirpath, f"{prefix}-{j:05d}.parquet")
        os.replace(full, dst)
        partition = {}
        for seg in os.path.relpath(dirpath, out_dir).split(os.sep):
            if "=" in seg:
                k, _, v = seg.partition("=")
                partition[k] = (
                    None
                    if v == "__HIVE_DEFAULT_PARTITION__"
                    else urllib.parse.unquote(v)
                )
        out.append(
            {
                "path": dst,
                "record_count": num_rows,
                "size": os.path.getsize(dst),
                "partition": partition,
            }
        )
        j += 1
    if not out:
        import shutil

        shutil.rmtree(out_dir, ignore_errors=True)
    return out


def _upsert_diff(
    spark,
    parent_dir: str,
    child_dir: str,
    key: list[str],
    verified_unique: set | None = None,
):
    """Diff two snapshot directories under PRIMARY-KEY semantics for
    equality-delete (Flink-style upsert) export: returns
    (changed_or_new_rows, deleted_or_replaced_keys) — the rows a MoR
    writer appends as a new data file, and the key tuples it writes to
    an equality delete file. `(None, None)` if the schemas differ (the
    transition needs a rewrite). Raises if `key` is not unique in
    either snapshot — equality deletes are only sound against a PK.

    Fully distributed, ONE key-partitioned join (round 12, guide
    §2.3/§2.4): the former form ran two null-safe anti-joins on a
    full-row struct key, shuffling each table's full width twice plus
    the duplicated struct. Under the (probed) PK uniqueness the same
    semantics decompose over the key: a child row is changed-or-new iff
    its key is absent from the parent or any column differs; a parent
    key is deleted-or-replaced iff absent from the child or any column
    differs. One full-outer join on the KEY columns (null-safe) moves
    each table once, the delta-sized classification is
    localCheckpoint-pinned, and both outputs derive from the pinned
    frame — the two downstream writer jobs recompute nothing. Exact (no
    hashing): values compare column-by-column null-safely, variant via
    its canonical-JSON cast, same as the struct key compared.

    Two key-uniqueness probes (groupBy + limit 1) still guard the PK
    precondition. Pass `verified_unique` (a mutable set of
    already-probed snapshot dirs) when diffing a chain — each dir is
    the child of one commit and the parent of the next, so caching
    halves the probe jobs."""
    from pyspark.sql import functions as F

    parent = spark.read.parquet(parent_dir)
    child = spark.read.parquet(child_dir)
    if sorted(parent.columns) != sorted(child.columns):
        return None, None
    missing = [k for k in key if k not in child.columns]
    if missing:
        raise ValueError(f"upsert_key columns {missing} not in snapshot schema")
    (_n, _cm, _pm, _pk) = _fresh_names(child.columns, "_n", "_cm", "_pm", "_pk")
    for name, df, d in (("parent", parent, parent_dir), ("child", child, child_dir)):
        if verified_unique is not None and d in verified_unique:
            continue
        if (
            df.groupBy(*key)
            .agg(F.count(F.lit(1)).alias(_n))
            .where(F.col(_n) > 1)
            .limit(1)
            .count()
        ):
            raise ValueError(
                f"upsert_key {key} is not unique in the {name} snapshot ({d})"
            )
        if verified_unique is not None:
            verified_unique.add(d)
    cols = sorted(child.columns)
    vt = {
        f.name
        for f in child.schema.fields
        if f.dataType.simpleString() == "variant"
    }

    def _cmp(side: str, col: str) -> F.Column:
        c = F.col(f"{side}.{col}")
        return c.cast("string") if col in vt else c

    c = child.withColumn(_cm, F.lit(1)).alias("c")
    p = parent.withColumn(_pm, F.lit(1)).alias("p")
    cond = None
    for k in key:
        e = _cmp("c", k).eqNullSafe(_cmp("p", k))
        cond = e if cond is None else (cond & e)
    differ = F.lit(False)
    for col in cols:
        if col in key:
            continue
        differ = differ | ~_cmp("c", col).eqNullSafe(_cmp("p", col))
    delta = (
        c.join(p, cond, "full_outer")
        .where(F.col(_pm).isNull() | F.col(_cm).isNull() | differ)
        .select(
            F.col(_cm),
            F.col(_pm),
            *[F.col(f"c.{col}").alias(col) for col in child.columns],
            F.struct(*[F.col(f"p.{k}").alias(k) for k in key]).alias(_pk),
        )
        .localCheckpoint()
    )
    changed = delta.where(F.col(_cm).isNotNull()).select(*child.columns)
    del_keys = delta.where(F.col(_pm).isNotNull()).select(
        *[F.col(f"{_pk}.{k}").alias(k) for k in key]
    )
    return changed, del_keys
