"""Vectorized (numpy-over-Arrow) kernels for the shingle-hash hot paths.

The MinHash signature pass was the suite's single largest per-row compute
term: a per-position O(k) polynomial fold expressed as nested higher-order
functions, which Spark evaluates INTERPRETED (HOF lambdas get neither
whole-stage codegen nor common-subexpression elimination). Measured at
sf0.1 (5k docs / 1.5M chars): ~6 s of executor time across 32 cores for
one signature pass — against ~0.9 s for the same arithmetic done
single-threaded in numpy (optimization guide §4.2: hand whole batches to
vectorized native code; the JVM expression interpreter is the slow path,
not Python).

These kernels are **exact**, not approximations: the per-shingle
polynomial hash ``Σ cp·BASE^i mod MOD`` over the codepoint sequence, the
``(a·h+b) mod MOD`` universal family and the ``len ≥ k`` row filter are
pinned by ``tests/test_sigkernel.py`` against pure-Python folds (and
against the JVM ``char_shingles``/``poly_hash`` expressions) on real
corpus rows plus unicode edge cases (astral-plane emoji, CJK, combining
marks, empty/short/NULL texts). The polynomial window hash is evaluated
via the Rabin–Karp prefix-sum unrolling: with
``Q[j] = cp[j]·BASE^{−j} (mod M)`` and ``S`` the running sum of ``Q``,
the hash of the window ``[i, i+k−1]`` is
``BASE^{i+k−1}·(S[i+k−1] − S[i−1]) mod M`` — O(1) per position instead of
a fold's O(k), and exactly equal because every step is the same modular
arithmetic.

Arrow mechanics: Spark ships ``mapInArrow`` batches whose string column is
one contiguous UTF-8 data buffer plus an offsets array. For all-ASCII
batches (checked with ``pyarrow.compute.string_is_ascii``) the codepoint
sequence IS the byte sequence, so the kernel reads the buffers zero-copy;
non-ASCII batches fall back to per-row UTF-32 decode (codepoint-exact,
matching Spark's ``split('')``/``ascii()`` semantics on astral-plane
inputs, where both consume code points, not UTF-16 units).

Overflow bounds (all int64): codepoints < 2^21, MOD/MOD2 < 2^30, so
``cp·BASE^{-j} mod M`` products < 2^51, prefix sums over ≤ 2^33 windows
< 2^63, affine ``a·h`` < 2^35 — no intermediate can wrap.
"""
from __future__ import annotations

from collections.abc import Iterator

import numpy as np

from .hashing import BASE, MOD

__all__ = [
    "batch_codepoints",
    "mod_powers",
    "window_hashes",
    "minhash_sigs_from_windows",
    "shingle_array_batches",
    "shingle_array_df",
    "distinct_shingle_hash_batches",
    "distinct_shingle_hash_df",
    "token_hash_array_batches",
    "token_hash_array_df",
    "token_window_hash_batches",
    "token_window_hash_df",
    "minhash_and_shingle_batches",
    "minhash_and_shingles_df",
]


def mod_powers(base: int, n: int, mod: int) -> np.ndarray:
    """``[base^0, base^1, …, base^{n-1}] mod mod`` — doubling, O(log n)
    numpy passes instead of an O(n) Python loop."""
    p = np.ones(max(n, 1), dtype=np.int64)
    if n > 1:
        p[1] = base % mod
        i = 1
        while 2 * i < n:
            p[i + 1 : 2 * i + 1] = (p[1 : i + 1] * p[i]) % mod
            i *= 2
        if i < n - 1:
            p[i + 1 : n] = (p[1 : n - i] * p[i]) % mod
    return p


def batch_codepoints(texts) -> tuple[np.ndarray, np.ndarray]:
    """(concatenated int64 codepoints, int64 offsets) for an Arrow string
    array. ASCII batches are read zero-copy from the Arrow buffers; mixed
    batches decode per row via UTF-32 (codepoint-exact for every plane).

    NULL rows contribute zero codepoints (callers filter them out before
    this — the offsets still carry one entry per row for alignment)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    if isinstance(texts, pa.ChunkedArray):
        texts = texts.combine_chunks()
    n_rows = len(texts)
    if n_rows == 0:
        return np.empty(0, dtype=np.int64), np.zeros(1, dtype=np.int64)
    all_ascii = pc.all(
        pc.fill_null(pc.string_is_ascii(texts), True)
    ).as_py()
    if all_ascii and texts.null_count == 0 and isinstance(
        texts, (pa.StringArray,)
    ):
        bufs = texts.buffers()
        offsets = np.frombuffer(bufs[1], dtype=np.int32)[
            texts.offset : texts.offset + n_rows + 1
        ].astype(np.int64)
        data = np.frombuffer(bufs[2], dtype=np.uint8)
        cps = data[offsets[0] : offsets[-1]].astype(np.int64)
        return cps, offsets - offsets[0]
    # general path: codepoint-exact per-row decode
    parts: list[np.ndarray] = []
    offs = np.zeros(n_rows + 1, dtype=np.int64)
    for i, t in enumerate(texts.to_pylist()):
        if t:
            a = np.frombuffer(t.encode("utf-32-le"), dtype=np.uint32).astype(
                np.int64
            )
            parts.append(a)
            offs[i + 1] = offs[i] + len(a)
        else:
            offs[i + 1] = offs[i]
    cps = (
        np.concatenate(parts) if parts else np.empty(0, dtype=np.int64)
    )
    return cps, offs


def window_hashes(
    cps: np.ndarray,
    offs: np.ndarray,
    k: int,
    *,
    base: int = BASE,
    mod: int = MOD,
) -> tuple[np.ndarray, np.ndarray]:
    """Per-position k-window polynomial hashes for every row with ≥ k
    codepoints, concatenated; plus the per-kept-row reduceat segment
    offsets.

    Returns ``(H_valid, seg_offsets)`` where ``H_valid`` holds, row by
    row (rows with fewer than k codepoints contributing nothing), the
    hash ``Σ_{t=0..k-1} cp[i+t]·base^{k-1-t} mod mod`` for each window
    start ``i``, and ``seg_offsets[j]`` is the start of kept-row j's
    windows in ``H_valid`` (length = #kept rows + 1). Callers align
    ``seg_offsets`` with ``lens >= k`` over the input rows."""
    n = int(cps.shape[0])
    lens = np.diff(offs)
    w_counts = np.maximum(lens - (k - 1), 0)
    total_w = int(w_counts.sum())
    kept = lens >= k
    seg_offsets = np.zeros(int(kept.sum()) + 1, dtype=np.int64)
    np.cumsum(w_counts[kept], out=seg_offsets[1:])
    if total_w == 0:
        return np.empty(0, dtype=np.int64), seg_offsets
    binv = pow(base, mod - 2, mod)
    pow_b = mod_powers(base, n, mod)
    pow_binv = mod_powers(binv, n, mod)
    q = (cps % mod) * pow_binv
    q %= mod
    s = np.cumsum(q)
    s %= mod
    # hash of window starting at global j, ending e=j+k-1:
    #   base^e · (S[e] − S[j−1]) mod M   (S[−1] ≡ 0)
    # valid global starts: per kept row r, [offs[r], offs[r]+w_counts[r])
    starts = (
        np.repeat(offs[:-1][kept], w_counts[kept])
        + np.arange(total_w)
        - np.repeat(seg_offsets[:-1], np.diff(seg_offsets))
    )
    ends = starts + (k - 1)
    s_prev = np.where(starts > 0, s[starts - 1], 0)
    h = (pow_b[ends] * ((s[ends] - s_prev) % mod)) % mod
    return h, seg_offsets


def minhash_sigs_from_windows(
    h_valid: np.ndarray,
    seg_offsets: np.ndarray,
    seeds: list[tuple[int, int]],
    *,
    mod: int = MOD,
) -> np.ndarray:
    """(n_rows × len(seeds)) int64 matrix of ``min((a·h+b) mod mod)`` per
    row segment — the MinHash signature rows."""
    n_rows = len(seg_offsets) - 1
    out = np.empty((n_rows, len(seeds)), dtype=np.int64)
    if n_rows == 0:
        return out
    red_at = seg_offsets[:-1]
    for i, (a, b) in enumerate(seeds):
        v = (h_valid * a + b) % mod
        out[:, i] = np.minimum.reduceat(v, red_at)
    return out


def _ascii_view(texts):
    """(data uint8, offsets int64) for an all-ASCII no-null StringArray,
    zero-copy; None when the fast path does not apply."""
    import pyarrow as pa
    import pyarrow.compute as pc

    if isinstance(texts, pa.ChunkedArray):
        texts = texts.combine_chunks()
    if len(texts) == 0 or texts.null_count != 0 or not isinstance(
        texts, pa.StringArray
    ):
        return None
    if not pc.all(pc.string_is_ascii(texts)).as_py():
        return None
    bufs = texts.buffers()
    offsets = np.frombuffer(bufs[1], dtype=np.int32)[
        texts.offset : texts.offset + len(texts) + 1
    ].astype(np.int64)
    data = np.frombuffer(bufs[2], dtype=np.uint8)
    return data[offsets[0] : offsets[-1]], offsets - offsets[0]


def _unique_first_occurrence(values: np.ndarray) -> np.ndarray:
    """Distinct elements in order of first occurrence (the
    ``array_distinct`` contract)."""
    _, idx = np.unique(values, return_index=True)
    idx.sort()
    return values[idx]


def shingle_array_batches(
    batch_iter: Iterator,
    *,
    k: int,
    doc_id_field,
    out_col: str,
    extra_fields: tuple = (),
) -> Iterator:
    """``mapInArrow`` body: (doc_id, text, *extras) → (doc_id, *extras,
    <out_col>: list<string>) — the exact ``char_shingles`` arrays
    (distinct k-char substrings, first-occurrence order; texts shorter
    than k, empty, or NULL yield an empty array). Rows survive 1:1, so
    any ``extra_fields`` columns (batch columns 2+) pass through
    untouched. ASCII batches slice the Arrow byte buffer directly; mixed
    batches fall back to per-row codepoint slicing (both pinned
    equivalent to the ``char_shingles`` HOF)."""
    import pyarrow as pa

    out_schema = pa.schema(
        [doc_id_field, *extra_fields, pa.field(out_col, pa.list_(pa.string()))]
    )
    for batch in batch_iter:
        ids = batch.column(0)
        texts = batch.column(1)
        extras = [batch.column(2 + i) for i in range(len(extra_fields))]
        lists = _shingle_list_array(texts, k)
        yield pa.RecordBatch.from_arrays(
            [ids, *extras, lists], schema=out_schema
        )


def _shingle_list_array(texts, k: int):
    """The exact ``char_shingles`` arrays of an Arrow string array, as a
    ``list<string>`` ListArray (shared core of the shingle kernels)."""
    import pyarrow as pa

    n_rows = len(texts)
    fast = _ascii_view(texts)
    if fast is not None:
        data, offs = fast
        parts: list[np.ndarray] = []
        counts = np.zeros(n_rows, dtype=np.int64)
        if len(data) >= k:
            windows = np.lib.stride_tricks.sliding_window_view(data, k)
            voids = np.ascontiguousarray(windows).view(f"V{k}").reshape(-1)
            for d in range(n_rows):
                lo, hi = offs[d], offs[d + 1] - (k - 1)
                if hi <= lo:
                    continue
                uniq = _unique_first_occurrence(voids[lo:hi])
                parts.append(uniq)
                counts[d] = len(uniq)
        if parts:
            flat = np.concatenate(parts).view(np.uint8)
        else:
            flat = np.empty(0, dtype=np.uint8)
        total = int(counts.sum())
        str_arr = pa.Array.from_buffers(
            pa.utf8(),
            total,
            [
                None,
                pa.py_buffer(
                    (np.arange(total + 1, dtype=np.int32) * k).tobytes()
                ),
                pa.py_buffer(flat.tobytes()),
            ],
        )
        list_offsets = np.zeros(n_rows + 1, dtype=np.int32)
        np.cumsum(counts, out=list_offsets[1:])
    else:
        # per-row codepoint slicing — exact for every unicode plane
        shingles: list[list[str]] = []
        for t in texts.to_pylist():
            if not t or len(t) < k:
                shingles.append([])
                continue
            seen: set[str] = set()
            row: list[str] = []
            for i in range(len(t) - k + 1):
                s = t[i : i + k]
                if s not in seen:
                    seen.add(s)
                    row.append(s)
            shingles.append(row)
        counts = np.array([len(r) for r in shingles], dtype=np.int64)
        str_arr = pa.array(
            [s for row in shingles for s in row], type=pa.utf8()
        )
        list_offsets = np.zeros(n_rows + 1, dtype=np.int32)
        np.cumsum(counts, out=list_offsets[1:])
    return pa.ListArray.from_arrays(
        pa.array(list_offsets, type=pa.int32()), str_arr
    )


def distinct_shingle_hash_batches(
    batch_iter: Iterator,
    *,
    k: int,
    doc_id_field,
    base2: int,
    mod2: int,
) -> Iterator:
    """``mapInArrow`` body: (doc_id, text) → exploded (doc_id, sh) rows,
    one per DISTINCT k-shingle per doc, ``sh`` the injective-in-(h1,h2)
    packed key ``h1·mod2 + h2`` of the two independent polynomial hashes
    (the ~2^60 keyspace ``operators/spans.py`` documents — cross-shingle
    collision odds ~n²/2^61). Used where only shingle IDENTITY matters
    (df profiles, candidate grouping), never where the final answer
    consumes shingle text."""
    import pyarrow as pa

    out_schema = pa.schema([doc_id_field, pa.field("sh", pa.int64())])
    for batch in batch_iter:
        ids_np = batch.column(0).to_numpy(zero_copy_only=False)
        texts = batch.column(1)
        cps, offs = batch_codepoints(texts)
        h1, seg = window_hashes(cps, offs, k)
        h2, _ = window_hashes(cps, offs, k, base=base2, mod=mod2)
        packed = h1 * mod2 + h2
        lens = np.diff(offs)
        kept_ids = ids_np[lens >= k]
        id_parts: list[np.ndarray] = []
        sh_parts: list[np.ndarray] = []
        for d in range(len(kept_ids)):
            uniq = np.unique(packed[seg[d] : seg[d + 1]])
            sh_parts.append(uniq)
            id_parts.append(np.full(len(uniq), kept_ids[d], dtype=np.int64))
        out_ids = (
            np.concatenate(id_parts) if id_parts else np.empty(0, np.int64)
        )
        out_sh = (
            np.concatenate(sh_parts) if sh_parts else np.empty(0, np.int64)
        )
        yield pa.RecordBatch.from_arrays(
            [pa.array(out_ids, type=pa.int64()), pa.array(out_sh, type=pa.int64())],
            schema=out_schema,
        )


def _require_long_doc_id(df) -> None:
    id_type = df.schema["doc_id"].dataType.simpleString()
    if id_type != "bigint":  # pragma: no cover - non-long ids unused
        raise TypeError(f"doc_id must be bigint, got {id_type}")


def shingle_array_df(
    docs,
    *,
    text_col: str = "text",
    k: int = 5,
    out_col: str = "__set",
    extra_cols: tuple = (),
):
    """DataFrame form of :func:`shingle_array_batches`: ``(doc_id,
    *extra_cols, out_col: array<string>)`` — the exact ``char_shingles``
    arrays, one vectorized Arrow pass instead of the interpreted
    per-position substring HOF (equivalence-pinned in
    ``tests/test_sigkernel.py``). Row set and order semantics match
    ``docs.select("doc_id", char_shingles(...))`` exactly: every row
    survives, short/NULL texts get an empty array; ``extra_cols`` name
    columns of ``docs`` carried through unchanged."""
    import pyarrow as pa

    from pyspark.sql import functions as F
    from pyspark.sql.pandas.types import to_arrow_type

    from ..partitioning import compute_spread

    base = compute_spread(
        docs.select(
            "doc_id", F.col(text_col).alias("__txt"), *extra_cols
        )
    )
    _require_long_doc_id(base)
    doc_id_field = pa.field("doc_id", pa.int64())
    extra_fields = tuple(
        pa.field(c, to_arrow_type(base.schema[c].dataType))
        for c in extra_cols
    )
    extra_ddl = "".join(
        f", {c} {base.schema[c].dataType.simpleString()}" for c in extra_cols
    )

    def _batches(batches):
        yield from shingle_array_batches(
            batches,
            k=k,
            doc_id_field=doc_id_field,
            out_col=out_col,
            extra_fields=extra_fields,
        )

    return base.mapInArrow(
        _batches,
        schema=f"doc_id long{extra_ddl}, {out_col} array<string>",
    )


def distinct_shingle_hash_df(
    docs,
    *,
    text_col: str = "text",
    k: int = 5,
):
    """DataFrame form of :func:`distinct_shingle_hash_batches`:
    exploded ``(doc_id, sh)`` rows, one per distinct k-shingle per doc
    (texts shorter than k contribute nothing), ``sh`` the packed ~2^60
    double-hash key."""
    import pyarrow as pa

    from pyspark.sql import functions as F

    from ..partitioning import compute_spread
    from .hashing import BASE2, MOD2

    base = compute_spread(docs.select("doc_id", F.col(text_col).alias("__txt")))
    _require_long_doc_id(base)
    doc_id_field = pa.field("doc_id", pa.int64())

    def _batches(batches):
        yield from distinct_shingle_hash_batches(
            batches, k=k, doc_id_field=doc_id_field, base2=BASE2, mod2=MOD2
        )

    return base.mapInArrow(_batches, schema="doc_id long, sh long")


def _segment_poly_hashes(
    cps: np.ndarray,
    starts: np.ndarray,
    ends: np.ndarray,
    *,
    base: int,
    mod: int,
) -> np.ndarray:
    """Polynomial hash ``Σ cp·base^(len−1−j) mod mod`` of each half-open
    codepoint segment ``[starts[i], ends[i])`` — the Rabin–Karp prefix-sum
    algebra of :func:`window_hashes` generalized to variable-length
    segments. Empty segments hash to 0 (the JVM fold over an empty array)."""
    n = int(cps.shape[0])
    out = np.zeros(len(starts), dtype=np.int64)
    if n == 0 or len(starts) == 0:
        return out
    binv = pow(base, mod - 2, mod)
    pow_b = mod_powers(base, n, mod)
    pow_binv = mod_powers(binv, n, mod)
    q = (cps % mod) * pow_binv
    q %= mod
    s = np.cumsum(q)
    s %= mod
    nonempty = ends > starts
    st = starts[nonempty]
    en = ends[nonempty] - 1
    s_prev = np.where(st > 0, s[st - 1], 0)
    out[nonempty] = (pow_b[en] * ((s[en] - s_prev) % mod)) % mod
    return out


def _token_packed_hashes(texts) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Flat packed per-token polynomial hashes of an Arrow string column:
    ``(values int64, out_offs int64 [n_rows+1], null_mask bool)`` — the
    shared core of the token-hash kernels, one vectorized pass. The caller
    passes text ALREADY lower-cased and trimmed by the JVM
    (``F.trim(F.lower(col))``) so the case-mapping stays Spark's own; this
    replays the Java-regex ``\\s+`` split exactly: separators are maximal
    ASCII-whitespace runs, a leading separator emits a leading "" token
    and a trailing one a trailing "" token (Spark's ``split`` keeps
    trailing empties at ``limit=-1``), empty tokens hash to 0, the empty
    string tokenizes to NO tokens (the ``word_tokens`` guard), and a NULL
    text contributes zero values (flagged in ``null_mask``)."""
    n_rows = len(texts)
    null_mask = np.zeros(n_rows, dtype=bool)
    if texts.null_count:
        null_mask = np.asarray(texts.is_null())
    cps, offs = batch_codepoints(texts)
    # Java-regex \s = ASCII {TAB..CR, SPACE} only — unicode spaces
    # (NBSP, thin space, …) are token CHARACTERS, JVM-probed in tests
    ws = ((cps >= 9) & (cps <= 13)) | (cps == 32)
    nonws = ~ws
    # maximal non-ws runs (the tokens); runs never span row boundaries,
    # so force a break at every row start/end before the edge detection
    if len(nonws):
        prev_nonws = np.empty_like(nonws)
        prev_nonws[0] = False
        prev_nonws[1:] = nonws[:-1]
        row_starts = offs[:-1][offs[:-1] < len(nonws)]
        prev_nonws[row_starts] = False
        next_nonws = np.empty_like(nonws)
        next_nonws[-1] = False
        next_nonws[:-1] = nonws[1:]
        row_ends = offs[1:] - 1
        next_nonws[row_ends[row_ends >= 0]] = False
        starts = np.flatnonzero(nonws & ~prev_nonws)
        ends = np.flatnonzero(nonws & ~next_nonws) + 1
    else:
        starts = np.empty(0, dtype=np.int64)
        ends = np.empty(0, dtype=np.int64)
    row_of_run = np.searchsorted(offs, starts, side="right") - 1
    runs_per_row = np.bincount(row_of_run, minlength=n_rows).astype(
        np.int64
    )
    lens = np.diff(offs)
    nonempty_row = lens > 0
    lead = np.zeros(n_rows, dtype=np.int64)
    trail = np.zeros(n_rows, dtype=np.int64)
    if len(cps):
        lead[nonempty_row] = ws[offs[:-1][nonempty_row]]
        trail[nonempty_row] = ws[offs[1:][nonempty_row] - 1]
    counts = runs_per_row + lead + trail
    counts[null_mask] = 0
    total = int(counts.sum())
    values = np.zeros(total, dtype=np.int64)
    out_offs = np.zeros(n_rows + 1, dtype=np.int64)
    np.cumsum(counts, out=out_offs[1:])
    if len(starts):
        h1 = _segment_poly_hashes(cps, starts, ends, base=BASE, mod=MOD)
        from .hashing import BASE2, MOD2, PACK_SHIFT

        h2 = _segment_poly_hashes(
            cps, starts, ends, base=BASE2, mod=MOD2
        )
        packed = h1 * np.int64(1 << PACK_SHIFT) + h2
        first_run_of_row = np.zeros(n_rows, dtype=np.int64)
        np.cumsum(runs_per_row[:-1], out=first_run_of_row[1:])
        rank = np.arange(len(starts), dtype=np.int64) - first_run_of_row[
            row_of_run
        ]
        dest = out_offs[row_of_run] + lead[row_of_run] + rank
        values[dest] = packed
    return values, out_offs, null_mask


def token_hash_array_batches(batch_iter: Iterator, *, doc_id_field) -> Iterator:
    """``mapInArrow`` body: (doc_id, text) → (doc_id, __th: list<long>) —
    per-token ``poly_hash`` values for both ``(BASE, MOD)`` and
    ``(BASE2, MOD2)``, packed ``h1·2^30 + h2``, of ``word_tokens(text)``
    (``dedup.simhash`` token hashing), one
    vectorized pass over :func:`_token_packed_hashes` (tokenization and
    hashing contract documented there); a NULL text yields a NULL array."""
    import pyarrow as pa

    out_schema = pa.schema(
        [doc_id_field, pa.field("__th", pa.list_(pa.int64()))]
    )
    for batch in batch_iter:
        ids = batch.column(0)
        texts = batch.column(1)
        n_rows = len(texts)
        values, out_offs, null_mask = _token_packed_hashes(texts)
        list_arr = pa.ListArray.from_arrays(
            pa.array(out_offs, type=pa.int32()),
            pa.array(values, type=pa.int64()),
        )
        if null_mask.any():
            keep = pa.array(~null_mask)
            import pyarrow.compute as pc

            list_arr = pc.if_else(keep, list_arr, pa.nulls(
                n_rows, type=pa.list_(pa.int64())
            ))
        yield pa.RecordBatch.from_arrays([ids, list_arr], schema=out_schema)


def token_hash_array_df(
    docs,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    out_col: str = "__th",
):
    """DataFrame form of :func:`token_hash_array_batches`: ``(id_col,
    out_col: array<long>)`` — per-token packed ``h1·2^30+h2`` polynomial
    hashes of the lowercase whitespace tokens: ``poly_hash`` of each
    ``word_tokens(F.lower(col))`` element for both pairs (pinned in
    ``tests/test_sigkernel.py``). Lower/trim run
    in the JVM so Spark's own case mapping applies; only the split and
    the per-char modular folds move to the vectorized kernel."""
    import pyarrow as pa

    from pyspark.sql import functions as F

    from ..partitioning import compute_spread

    base = compute_spread(
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.trim(F.lower(F.col(text_col))).alias("__txt"),
        )
    )
    _require_long_doc_id(base)
    doc_id_field = pa.field("doc_id", pa.int64())

    def _batches(batches):
        yield from token_hash_array_batches(
            batches, doc_id_field=doc_id_field
        )

    out = base.mapInArrow(_batches, schema="doc_id long, __th array<bigint>")
    if id_col != "doc_id" or out_col != "__th":
        out = out.select(
            F.col("doc_id").alias(id_col), F.col("__th").alias(out_col)
        )
    return out


def token_window_hash_batches(
    batch_iter: Iterator, *, w: int, doc_id_field
) -> Iterator:
    """``mapInArrow`` body: (doc_id, text) → exploded (doc_id, pos, h) —
    the combined two-pair polynomial hash of every ``w``-token window
    (1-based start positions), one output row per window of every doc
    with ≥ w tokens (``operators/spans.py::window_hashes``):
    ``h = H1·MOD2 + H2`` with ``H_p = Σ t_j·B_p^(e−j) mod M_p`` over the
    per-token component hashes, evaluated via the same Rabin–Karp
    prefix-sum algebra as the shingle kernels — O(1) per window at any
    ``w``. Docs with < w tokens (and NULL texts) contribute no rows. The
    windows never exist as JVM rows; only (id, pos, h) triples leave the
    kernel."""
    import pyarrow as pa

    from .hashing import BASE2, MOD2, PACK_MASK, PACK_SHIFT

    out_schema = pa.schema(
        [
            doc_id_field,
            pa.field("pos", pa.int32()),
            pa.field("h", pa.int64()),
        ]
    )
    for batch in batch_iter:
        ids_np = batch.column(0).to_numpy(zero_copy_only=False)
        texts = batch.column(1)
        values, out_offs, _null = _token_packed_hashes(texts)
        t1 = values >> PACK_SHIFT
        t2 = values & np.int64(PACK_MASK)
        h1, seg = window_hashes(t1, out_offs, w, base=BASE, mod=MOD)
        h2, _ = window_hashes(t2, out_offs, w, base=BASE2, mod=MOD2)
        h = h1 * np.int64(MOD2) + h2
        n_wins = np.diff(seg)
        kept = np.diff(out_offs) >= w
        out_ids = np.repeat(ids_np[kept], n_wins)
        pos = (
            np.arange(len(h), dtype=np.int64)
            - np.repeat(seg[:-1], n_wins)
            + 1
        ).astype(np.int32)
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(out_ids, type=pa.int64()),
                pa.array(pos, type=pa.int32()),
                pa.array(h, type=pa.int64()),
            ],
            schema=out_schema,
        )


def token_window_hash_df(
    docs,
    *,
    w: int,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """DataFrame form of :func:`token_window_hash_batches`: the full
    ``operators/spans.py::window_hashes`` frame ``(id_col, pos, h)`` from
    ONE vectorized Arrow pass — no doc-keyed exchange, no per-token
    explode, no window machinery. Lower/trim stay in the JVM (Spark's own
    case mapping); ``pos`` is int and ``h`` the injective ~2^60 combined
    key."""
    import pyarrow as pa

    from pyspark.sql import functions as F

    from ..partitioning import compute_spread

    base = compute_spread(
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.trim(F.lower(F.col(text_col))).alias("__txt"),
        )
    )
    _require_long_doc_id(base)
    doc_id_field = pa.field("doc_id", pa.int64())

    def _batches(batches):
        yield from token_window_hash_batches(
            batches, w=w, doc_id_field=doc_id_field
        )

    out = base.mapInArrow(_batches, schema="doc_id long, pos int, h long")
    if id_col != "doc_id":
        out = out.select(
            F.col("doc_id").alias(id_col), "pos", "h"
        )
    return out


def minhash_signature_batches(
    batch_iter: Iterator,
    *,
    k: int,
    seeds: list[tuple[int, int]],
    doc_id_field,
) -> Iterator:
    """``mapInArrow`` body: (doc_id, text) record batches → (doc_id, sig)
    record batches, sig = the ``num_hashes`` MinHash mins. Rows with
    fewer than ``k`` codepoints (and NULL texts) are dropped — Spark's
    ``length(text) ≥ k``."""
    import pyarrow as pa
    import pyarrow.compute as pc

    out_schema = pa.schema(
        [doc_id_field, pa.field("sig", pa.list_(pa.int64()))]
    )
    num = len(seeds)
    for batch in batch_iter:
        texts = batch.column(1)
        keep = pc.fill_null(pc.greater_equal(pc.utf8_length(texts), k), False)
        kept_ids = pc.filter(batch.column(0), keep)
        kept_texts = pc.filter(texts, keep)
        cps, offs = batch_codepoints(kept_texts)
        h_valid, seg = window_hashes(cps, offs, k)
        sig_mat = minhash_sigs_from_windows(h_valid, seg, seeds)
        n = sig_mat.shape[0]
        sig_arr = pa.ListArray.from_arrays(
            pa.array(
                np.arange(n + 1, dtype=np.int32) * num, type=pa.int32()
            ),
            pa.array(sig_mat.reshape(-1), type=pa.int64()),
        )
        yield pa.RecordBatch.from_arrays(
            [kept_ids, sig_arr], schema=out_schema
        )


def minhash_and_shingle_batches(
    batch_iter: Iterator,
    *,
    k: int,
    seeds: list[tuple[int, int]],
    doc_id_field,
    set_col: str,
) -> Iterator:
    """``mapInArrow`` body: (doc_id, text) → (doc_id, sig, <set_col>) —
    BOTH the MinHash signature and the exact ``char_shingles`` array from
    ONE pass over the text (one scan instead of two for the LSH dedup
    paths, which need the signatures for banding AND the shingle arrays
    for exact-Jaccard verification; optimization guide §1.2: remove
    passes before tuning them). ``sig`` is NULL exactly for the rows the
    signature pass drops (< k codepoints / NULL text) — callers filter
    ``sig IS NOT NULL`` to recover ``minhash_signature_batches``'s row
    set; the shingle arrays keep every row (empty array), matching
    ``shingle_array_batches``."""
    import pyarrow as pa

    out_schema = pa.schema(
        [
            doc_id_field,
            pa.field("sig", pa.list_(pa.int64())),
            pa.field(set_col, pa.list_(pa.string())),
        ]
    )
    num = len(seeds)
    for batch in batch_iter:
        ids = batch.column(0)
        texts = batch.column(1)
        n_rows = len(texts)
        cps, offs = batch_codepoints(texts)
        h_valid, seg = window_hashes(cps, offs, k)
        sig_mat = minhash_sigs_from_windows(h_valid, seg, seeds)
        lens = np.diff(offs)
        kept = lens >= k  # NULL texts have len 0 via batch_codepoints
        sig_offsets = np.zeros(n_rows + 1, dtype=np.int32)
        np.cumsum(kept.astype(np.int64) * num, out=sig_offsets[1:])
        sig_arr = pa.ListArray.from_arrays(
            pa.array(sig_offsets, type=pa.int32()),
            pa.array(sig_mat.reshape(-1), type=pa.int64()),
        )
        if not kept.all():
            import pyarrow.compute as pc

            # NULL sig for dropped rows (replace the empty placeholders)
            mask = pa.array(~kept)
            sig_arr = pc.if_else(
                mask, pa.nulls(n_rows, type=pa.list_(pa.int64())), sig_arr
            )
        sets = _shingle_list_array(texts, k)
        yield pa.RecordBatch.from_arrays(
            [ids, sig_arr, sets], schema=out_schema
        )


def minhash_and_shingles_df(
    docs,
    *,
    text_col: str = "text",
    k: int = 5,
    seeds,
    set_col: str = "shingles",
):
    """DataFrame form of :func:`minhash_and_shingle_batches`: ``(doc_id,
    sig: array<long> — NULL for <k-codepoint docs, <set_col>:
    array<string>)``. One text scan feeds both the banding and the
    verify join; ``where(sig IS NOT NULL)`` + projection recovers
    ``minhash_signatures`` exactly, projection of ``set_col`` recovers
    ``shingle_array_df`` exactly (both equivalence-pinned)."""
    import pyarrow as pa

    from pyspark.sql import functions as F

    from ..partitioning import compute_spread

    base = compute_spread(
        docs.select("doc_id", F.col(text_col).alias("__txt"))
    )
    _require_long_doc_id(base)
    doc_id_field = pa.field("doc_id", pa.int64())

    def _batches(batches):
        yield from minhash_and_shingle_batches(
            batches, k=k, seeds=seeds, doc_id_field=doc_id_field,
            set_col=set_col,
        )

    return base.mapInArrow(
        _batches,
        schema=f"doc_id long, sig array<bigint>, {set_col} array<string>",
    )
