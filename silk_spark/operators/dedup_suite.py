"""Document deduplication suite for training-data pipelines.

Exact, MinHash+LSH, SimHash and n-gram-Jaccard dedup over a
``documents``-shaped table — the web-scale generalization of Silk's
link discovery (same blocked-candidate-join skeleton as
operators/blocking.py; reference Matcher semantics at
/root/reference/silk-rules/.../rule/execution/Matcher.scala:254-291).

Scale design: every method is candidate-generation (explode compact
block ids, equi-join) followed by an EXACT verification predicate, so
the expensive pairwise check runs only on the candidate set. MinHash /
SimHash signatures are ZERO-SHUFFLE: the per-doc token-hash array
materializes once and every permutation/bit reduces over it in the
same projection (the old explode + groupBy formulation exchanged
|docs|×|tokens| rows for byte-identical signatures). The reduction
itself has two interchangeable, bit-identical backends — JVM
higher-order functions, or an Arrow-batched numpy kernel for the
O(perms×tokens) arithmetic (HOFs are interpreted, not codegen'd; see
`spark.silk.signatures.impl`).

All hashes are 31-bit modular permutations over xxhash64 token codes:
h_i(x) = (a_i * x + b_i) mod p, p = 2^31 - 1 — products stay < 2^62,
no bigint overflow under ANSI mode.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

MERSENNE_P = (1 << 31) - 1


def _parallel(df: DataFrame) -> DataFrame:
    """Widen a narrow scan to the session's configured minimum
    parallelism. Small parquet inputs arrive as 1-2 partitions, which
    would serialize the shingle/signature expression work (the CPU
    cost center of every operator here) on as many cores; one
    round-robin exchange up front is far cheaper.

    Driven by spark.silk.scan.minParallelism (set by get_spark; 0 or
    unset disables). Width is probed via inputFiles() — a metadata
    call on the analyzed plan; NOT df.rdd, which forces a full RDD
    conversion per operator call. File count lower-bounds partition
    count (maxPartitionBytes only ever splits files further), so a
    100 TB scan with thousands of files passes through untouched with
    no exchange — and because splitting exists, file count is only a
    LOWER bound: a table of few multi-GB splittable files already
    scans wide, so the exchange is also skipped whenever total input
    bytes / maxPartitionBytes >= target (local-filesystem sizes are a
    driver-side stat; non-local URIs fall back to the file count). A
    non-file source (in-memory test frames) reports no files and gets
    widened, which is the right call there too."""
    try:
        target = int(df.sparkSession.conf.get("spark.silk.scan.minParallelism", "0"))
    except ValueError:
        target = 0
    if target <= 0:
        return df
    try:
        files = df.inputFiles()
    except Exception:
        files = []
    if len(files) >= target:
        return df
    if files:
        try:
            import os
            from urllib.parse import urlparse

            paths = [urlparse(f).path for f in files if f.startswith(("file:", "/"))]
            if len(paths) == len(files):  # all local — sizes are knowable
                total = sum(os.path.getsize(p) for p in paths)
                mpb = int(
                    df.sparkSession.conf.get(
                        "spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024)
                    ).rstrip("b")
                )
                if total // max(mpb, 1) >= target:
                    return df
        except Exception:
            pass  # unreadable size metadata -> conservative widen below
    return df.repartition(target)


import threading

# persisted-frame registry, keyed PER SparkSession: a module-global
# list shared across sessions/threads would let release_persisted()
# from one job unpersist shingle frames another in-flight job still
# reuses (correct but a silent recompute cliff), and concurrent
# operator invocations would race append/pop. Keying by session and
# guarding mutation with a lock scopes release to the caller's own
# session.
_PERSISTED: "dict[int, list[DataFrame]]" = {}
_PERSISTED_LOCK = threading.Lock()


def _session_key(df_or_spark) -> int:
    spark = getattr(df_or_spark, "sparkSession", df_or_spark)
    return id(spark)


def _persist(df: DataFrame) -> DataFrame:
    """persist() + track: the pair operators cache their tokenized
    shingle frame (multiple verify subplans reference it), but a
    long-lived session running many operator invocations (the
    25-query bench, a notebook) would otherwise accumulate
    MEMORY_AND_DISK blocks that disk spill does not LRU-evict.
    Callers release them all via release_persisted() once the
    operator's output is materialized. Caching beat recomputing the
    tokenization per referencing subplan in an interleaved A/B (all 6
    runs, BASELINE.md "Round-5 A/B: shingle-frame persist")."""
    df = df.persist()
    with _PERSISTED_LOCK:
        _PERSISTED.setdefault(_session_key(df), []).append(df)
    return df


def release_persisted(spark=None) -> int:
    """Unpersist every shingle frame cached by the pair operators —
    scoped to `spark`'s session when given, else all sessions (the
    single-session bench/test path). Returns how many were released.
    Safe any time — a released frame is recomputed (not broken) if
    its plan is re-executed."""
    with _PERSISTED_LOCK:
        if spark is None:
            frames = [f for lst in _PERSISTED.values() for f in lst]
            _PERSISTED.clear()
        else:
            frames = _PERSISTED.pop(_session_key(spark), [])
    n = 0
    for f in frames:
        try:
            f.unpersist()
            n += 1
        except Exception:
            pass
    return n


def _signature_impl(df: DataFrame) -> str:
    """Backend for the signature computation:
    'fused' (default) = ONE Arrow-batched kernel per partition doing
    normalize → shingle → hash → signature entirely in pandas/numpy
    (vectorized xxh64/md5, functions/xxh64.py); 'arrow' = shingle
    hashes via JVM Columns, perm arithmetic in a numpy kernel;
    'jvm' = pure higher-order-function Columns. All three are
    BIT-IDENTICAL (pinned by tests) and zero-shuffle.

    Why fused wins: higher-order functions (transform/zip_with) are
    CodegenFallback, so the 'arrow'/'jvm' shingle layer evaluates
    interpreted — per-element UTF8String churn that measured
    ~1.3 ms·core/doc on 130-char docs (24k docs/s at 32 cores).
    The fused kernel's pandas normalize + grouped-by-length
    vectorized xxh64 does the identical math at ~15 µs·core/doc —
    what turns a 10⁷-doc dedup pass from a ~20-minute stage into a
    sub-minute one. Under ANY impl the banding, bucket join, and
    exact-Jaccard verify stay DataFrame ops (Catalyst owns the
    shuffles). Override with spark.silk.signatures.impl."""
    try:
        v = df.sparkSession.conf.get("spark.silk.signatures.impl", "fused")
    except Exception:
        v = "fused"
    return v if v in ("fused", "arrow", "jvm") else "fused"


def _minhash_sig_arrow(params: "list[tuple[int, int]]"):
    """pandas UDF: per-doc min-hash signature from the token-hash
    array. (A·h + B) mod p row-min over a (perms × tokens) int64
    matrix — exact JVM parity: a < 2^31, h < 2^31-1 keeps products
    under 2^62 (no int64 overflow), and numpy % on non-negatives
    matches Spark's % on non-negatives."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, LongType

    A = np.array([a for a, _ in params], dtype=np.int64)[:, None]
    B = np.array([b for _, b in params], dtype=np.int64)[:, None]
    @pandas_udf(ArrayType(LongType()))
    def _sig(hs):  # pd.Series -> pd.Series (hints omitted: module-level
        # `from __future__ import annotations` stringifies them and
        # pyspark can't resolve `pd` from this closure's globals)
        # Deliberately a per-doc loop: each iteration is a 128×|tokens|
        # matrix op (~16 KB, L1-resident) dominated by the int64 mod —
        # measured AGAINST concat+minimum.reduceat batch forms
        # (0.33×), a (tokens×perms) transposed reduceat (0.33×), and
        # a Mersenne shift-and-fold mod (0.79×): the simple loop wins
        # because numpy's % is already the cost floor and the batch
        # forms add temporaries that blow the cache.
        out = []
        for h in hs:
            hv = np.asarray(h, dtype=np.int64)
            out.append(((A * hv + B) % MERSENNE_P).min(axis=1))
        return pd.Series(out)

    return _sig


def _simhash60_sig_arrow():
    """pandas UDF: 60-bit SimHash from the token-hash array.
    bit_b = [2 · count(bit b set) > tokens] — identical rule to the
    JVM expression; the packed signature stays < 2^60 (int64-safe)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import LongType

    bits = np.arange(60, dtype=np.int64)
    weights = np.int64(1) << bits
    @pandas_udf(LongType())
    def _sig(hs):  # pd.Series -> pd.Series (hints omitted, see above)
        # per-doc loop on purpose — see _minhash_sig_arrow's measured
        # case against the reduceat batch forms
        out = np.empty(len(hs), dtype=np.int64)
        for i, h in enumerate(hs):
            hv = np.asarray(h, dtype=np.int64)
            cnt = ((hv[:, None] >> bits) & 1).sum(axis=0)
            out[i] = int(((cnt * 2 > len(hv)) * weights).sum())
        return pd.Series(out)

    return _sig


_NORM_RE1 = re.compile(r"[^a-z0-9 \t\n\x0b\f\r]")
_NORM_RE2 = re.compile(r"[ \t\n\x0b\f\r]+")


def _normalize_series(texts):
    """pandas twin of normalize_text — IDENTICAL semantics to the JVM
    regex chain: Java's `\\s` is the ASCII class [ \\t\\n\\x0b\\f\\r]
    (unlike Python's Unicode-aware \\s), written out explicitly.
    Case-lowering differences between java.lang.String.toLowerCase and
    str.lower exist only for exotic code points (final sigma, Turkish
    dotted I) that the [^a-z0-9\\s] pass maps to ' ' in both engines —
    pinned by the unicode rows in tests/test_dedup_suite.py."""
    s = texts.fillna("").str.lower()
    s = s.str.replace(_NORM_RE1, " ", regex=True)
    s = s.str.replace(_NORM_RE2, " ", regex=True)
    return s.str.strip(" ")


def _shingle_bytes_py(norm: str, n: int) -> "list[bytes]":
    """UTF-8 shingle byte strings of one normalized doc — the set
    word_shingles/shingles_from_tokens produce (array_distinct
    preserves order, a set does not; every consumer is order-invariant:
    min over perms, bit counts, set intersections)."""
    w = norm.split(" ")
    if len(w) >= n:
        return [
            s.encode("utf-8")
            for s in {" ".join(w[j : j + n]) for j in range(len(w) - n + 1)}
        ]
    return [norm.encode("utf-8")]


def _minhash_fused_arrow(params: "list[tuple[int, int]]", shingle_n: int):
    """pandas UDF: text → minhash signature, the whole normalize →
    shingle → xxh64 → 128-perm pipeline in one Arrow batch. Bit-
    identical to the JVM expression path: functions/xxh64.py IS
    Spark's xxhash64 (property-pinned), np.remainder on int64 IS
    Spark's pmod for a positive modulus, and the perm arithmetic is
    the same int64 matrix op as _minhash_sig_arrow."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, LongType

    from silk_spark.functions.xxh64 import xxh64_batch

    A = np.array([a for a, _ in params], dtype=np.int64)[:, None]
    B = np.array([b for _, b in params], dtype=np.int64)[:, None]

    @pandas_udf(ArrayType(LongType()))
    def _sig(texts):  # pd.Series -> pd.Series (hints omitted, see above)
        norm = _normalize_series(texts)
        counts = np.empty(len(norm), dtype=np.int64)
        all_sh: list[bytes] = []
        for i, nm in enumerate(norm):
            sh = _shingle_bytes_py(nm, shingle_n)
            counts[i] = len(sh)
            all_sh.extend(sh)
        hs = np.remainder(xxh64_batch(all_sh), MERSENNE_P)
        out, off = [], 0
        for c in counts:
            hv = hs[off : off + c]
            off += int(c)
            out.append(((A * hv + B) % MERSENNE_P).min(axis=1))
        return pd.Series(out)

    return _sig


def _minhash_bands_fused_arrow(
    params: "list[tuple[int, int]]", shingle_n: int, bands: int
):
    """pandas UDF: text → array<bigint>[bands] of LSH band ids, the
    whole normalize → shingle → xxh64 → perms → band-hash pipeline in
    one Arrow batch. Emitting band ids instead of signatures keeps the
    128-long signature out of the Arrow exchange entirely (1 KB/doc —
    10 GB at 10⁷ docs) and the band hashing vectorized.

    Band ids are internal bucket keys: two docs share a band id iff
    their signature slices are equal (modulo 2⁻⁶⁴ hash collisions,
    same property as the JVM xxhash64(j, slice) form), so the
    CANDIDATE PAIR SET — the only thing downstream consumes — is
    identical across impls even though the id values differ."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, LongType

    from silk_spark.functions.xxh64 import _xxh64_matrix, xxh64_batch

    A = np.array([a for a, _ in params], dtype=np.int64)[:, None]
    B = np.array([b for _, b in params], dtype=np.int64)[:, None]
    r = len(params) // bands

    @pandas_udf(ArrayType(LongType()))
    def _bands(texts):  # pd.Series -> pd.Series (hints omitted, see above)
        norm = _normalize_series(texts)
        counts = np.empty(len(norm), dtype=np.int64)
        all_sh: list[bytes] = []
        for i, nm in enumerate(norm):
            sh = _shingle_bytes_py(nm, shingle_n)
            counts[i] = len(sh)
            all_sh.extend(sh)
        hs = np.remainder(xxh64_batch(all_sh), MERSENNE_P)
        sigs = np.empty((len(norm), len(params)), dtype=np.int64)
        off = 0
        for i, c in enumerate(counts):
            hv = hs[off : off + c]
            off += int(c)
            sigs[i] = ((A * hv + B) % MERSENNE_P).min(axis=1)
        out = np.empty((len(norm), bands), dtype=np.int64)
        for j in range(bands):
            # one vectorized xxh64 over the band's r little-endian
            # longs per doc, seeded by the band index
            buf = (
                np.ascontiguousarray(sigs[:, j * r : (j + 1) * r])
                .astype("<i8")
                .view(np.uint8)
                .reshape(len(norm), 8 * r)
            )
            out[:, j] = _xxh64_matrix(buf, seed=j).view(np.int64)
        return pd.Series(list(out))

    return _bands


def _shingles_fused_arrow(shingle_n: int):
    """pandas UDF: text → array<string> of distinct word n-gram
    shingles — the Python twin of shingles_from_tokens, used by
    shingle_frame under the fused impl. Emits the same shingle SET
    (order differs from array_distinct's first-occurrence order; every
    consumer — array_sort'ed prefix index, intersect/union Jaccard —
    is order-invariant)."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, StringType

    n = shingle_n

    @pandas_udf(ArrayType(StringType()))
    def _sh(texts):  # pd.Series -> pd.Series (hints omitted, see above)
        norm = _normalize_series(texts)
        out = []
        for nm in norm:
            w = nm.split(" ")
            if len(w) >= n:
                out.append(list({" ".join(w[j : j + n]) for j in range(len(w) - n + 1)}))
            else:
                out.append([nm])
        return pd.Series(out)

    return _sh


def _hashed_shingles_fused_arrow(shingle_n: int):
    """pandas UDF: text → array<bigint> of xxhash64(shingle) over the
    distinct word n-gram shingle set, normalize → shingle → hash fused
    in one Arrow batch. The int64 twin of _shingles_fused_arrow:
    functions/xxh64.py IS Spark's xxhash64 (property-pinned), so the
    JVM fallback `transform(shingles_from_tokens(...), xxhash64)` is
    bit-identical. See shingle_frame(hashed=True) for why the dedup
    verify paths run on hashes instead of shingle strings."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, LongType

    from silk_spark.functions.xxh64 import xxh64_batch

    n = shingle_n

    @pandas_udf(ArrayType(LongType()))
    def _sh(texts):  # pd.Series -> pd.Series (hints omitted, see above)
        import numpy as np

        norm = _normalize_series(texts)
        counts = np.empty(len(norm), dtype=np.int64)
        all_sh: list[bytes] = []
        for i, nm in enumerate(norm):
            sh = _shingle_bytes_py(nm, n)
            counts[i] = len(sh)
            all_sh.extend(sh)
        hs = xxh64_batch(all_sh)
        out, off = [], 0
        for c in counts:
            out.append(hs[off : off + c])
            off += int(c)
        return pd.Series(out)

    return _sh


def _simhash60_fused_arrow(shingle_n: int):
    """pandas UDF: text → 60-bit md5-portable SimHash, normalize →
    shingle → md5 → bit-majority fused in one Arrow batch. hashlib.md5
    IS the JVM md5 (same algorithm); the bit rule is the same numpy op
    as _simhash60_sig_arrow."""
    import hashlib

    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import LongType

    bits = np.arange(60, dtype=np.int64)
    weights = np.int64(1) << bits
    md5 = hashlib.md5

    @pandas_udf(LongType())
    def _sig(texts):  # pd.Series -> pd.Series (hints omitted, see above)
        norm = _normalize_series(texts)
        out = np.empty(len(norm), dtype=np.int64)
        for i, nm in enumerate(norm):
            hv = np.array(
                [
                    int(md5(b).hexdigest()[:15], 16)
                    for b in _shingle_bytes_py(nm, shingle_n)
                ],
                dtype=np.int64,
            )
            cnt = ((hv[:, None] >> bits) & 1).sum(axis=0)
            out[i] = int(((cnt * 2 > len(hv)) * weights).sum())
        return pd.Series(out)

    return _sig


def _content_guard(text_col: str) -> Column:
    """Docs whose text is null or normalizes to empty have no shingle
    SET — word_shingles' short-doc fallback emits a one-element
    degenerate array ([null] / [""]) shared by every such doc, which
    would band-collide them all into one O(m²)-candidate LSH block —
    and Jaccard over an empty set is undefined. Signature/banding
    paths exclude them (mirrored in the DuckDB oracles).

    Tested as `lower(text) RLIKE '[a-z0-9]'` — "contains at least one
    alphanumeric after lowering" is exactly "normalizes to non-empty"
    (normalize_text keeps precisely the alnum runs), and the positive
    single-char probe stops at the first hit instead of rewriting the
    whole string (equivalence pinned by tests/test_dedup_suite.py)."""
    return F.col(text_col).isNotNull() & F.lower(F.col(text_col)).rlike("[a-z0-9]")


def _perm_params(k: int, seed: int = 42) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for k min-hash permutations."""
    params = []
    x = seed
    for _ in range(k):
        x = (x * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        a = 1 + x % (MERSENNE_P - 1)
        x = (x * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        b = x % MERSENNE_P
        params.append((a, b))
    return params


def normalize_text(c: Column) -> Column:
    """Canonical form for dedup: lowercase, collapse whitespace,
    strip non-alphanumerics (composition of transformer-catalog ops).

    Computed as `array_join(regexp_extract_all(lower, '[a-z0-9]+'), ' ')`
    — value-identical to the definitional
    `trim(replace(replace(lower, '[^a-z0-9\\s]', ' '), '\\s+', ' '))`
    (the maximal alnum runs joined by single spaces ARE the collapsed,
    trimmed form; equivalence pinned by tests/test_dedup_suite.py),
    but ~60x faster on JDK 17: a NEGATED character class compiles to
    chained CharPredicate lambdas evaluated per character (measured
    ~5 µs/char — 45 s to scan 2M 130-char docs at 32 cores), while the
    positive class takes the compiled fast path (0.8 s for the same
    scan). The DuckDB oracles keep the definitional replace form (RE2
    has no such cliff)."""
    return F.array_join(F.regexp_extract_all(F.lower(c), F.lit("[a-z0-9]+"), 0), " ")


def tokens_col(c: Column) -> Column:
    """Normalized tokens = the maximal [a-z0-9] runs of the lowered
    text, extracted directly (one positive-class regex pass — see
    normalize_text for the measured negated-class cliff this avoids;
    split(normalize_text, ' ') would re-join and re-split).
    Materialize this as its OWN column (see shingle_frame) before
    handing it to any higher-order shingle expression.

    Edge vs the split form: a no-content doc yields [] here vs ['']
    there — shingles_from_tokens' short-doc fallback maps BOTH to the
    same [''] degenerate shingle, and every operator path excludes
    such docs via _content_guard anyway."""
    return F.regexp_extract_all(F.lower(c), F.lit("[a-z0-9]+"), 0)


def shingles_from_tokens(toks: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles from a token-array column.

    Formulated as a fold of `zip_with` over n shifted slices of the
    token array — NOT as `transform(sequence(1, k), i -> slice(toks,
    i, n))`. A higher-order-function lambda body is re-evaluated per
    ELEMENT, so referencing `toks` inside the lambda recomputes it
    once per shingle — O(words²) work per document (measured ~6x the
    whole operator's runtime). In the zip_with form the token array
    sits in argument position (evaluated once per row) and the lambdas
    touch only their two string elements.

    `toks` should be a COLUMN REFERENCE, not the inline
    split(regex(regex(...))) expression: higher-order functions are
    CodegenFallback, so the whole subtree under them evaluates
    interpreted with NO common-subexpression elimination — an inline
    token expression is re-evaluated once per slice/size/fallback
    reference (~8x two regex passes per row; measured 4.1x the whole
    signature stage at 200k docs). Materializing the tokens in their
    own projection keeps the regex in codegen'd code, evaluated once
    (CollapseProject never inlines a non-cheap expression referenced
    more than once, so the two-projection shape survives the
    optimizer)."""
    k = F.size(toks) - (n - 1)
    grams = F.slice(toks, 1, F.greatest(k, F.lit(1)))
    for j in range(1, n):
        grams = F.zip_with(
            grams,
            F.slice(toks, 1 + j, F.greatest(k, F.lit(1))),
            lambda a, b: F.concat_ws(" ", a, b),
        )
    return F.when(k >= 1, F.array_distinct(grams)).otherwise(
        F.array(F.array_join(toks, " "))
    )


def word_shingles(c: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles of normalized text as array<string>.

    Column-level convenience form: the tokenization is INLINE, so the
    interpreted HOF layer re-evaluates it per reference (see
    shingles_from_tokens). Fine for small frames and tests; every
    operator hot path goes through shingle_frame / a fused kernel
    instead."""
    return shingles_from_tokens(tokens_col(c), n)


def shingle_frame(
    df: DataFrame, shingle_n: int, text_col: str, id_col: str,
    hashed: bool = False,
) -> DataFrame:
    """(id, sh array<string>) — fused Arrow kernel by default (see
    _signature_impl; the zip_with shingle layer is interpreted and
    measured ~0.3 ms·core/doc vs ~10 µs fused); under 'arrow'/'jvm'
    the token array is materialized in its own codegen'd projection so
    the normalization runs ONCE per row instead of once per
    interpreted-HOF reference (~8x) — see shingles_from_tokens.

    hashed=True emits (id, sh array<bigint>) of xxhash64(shingle)
    instead — the form every candidate-verify path consumes. Jaccard
    is a pure set-size formula, so it is IDENTICAL over hashed sets
    absent a 64-bit collision inside one compared pair's union
    (P ≈ |union|²/2⁶⁵ per pair: ~1.5e-10 across sf0.1's 567k candidate
    verifies, ~3e-5 even at 10⁹ pairs × 10³-shingle unions), while
    long arrays cut the verify-join shuffle ~2.3x (8 B vs ~18 B per
    shingle) and make intersect/union integer comparisons instead of
    UTF8String walks — measured 3.5x on the sf0.1 verify stage. The
    prefix index keeps working unchanged: PPJoin Lemma 1 only needs
    SOME global total order on the universe, and int64 order is one
    (the candidate SET may differ from lexicographic-order indexing;
    the verified result set cannot)."""
    guarded = df.filter(_content_guard(text_col))
    if _signature_impl(df) == "fused":
        kernel = (
            _hashed_shingles_fused_arrow(shingle_n)
            if hashed
            else _shingles_fused_arrow(shingle_n)
        )
        return guarded.select(
            F.col(id_col).alias("id"), kernel(F.col(text_col)).alias("sh")
        )
    toksed = guarded.select(
        F.col(id_col).alias("id"), tokens_col(F.col(text_col)).alias("_toks")
    )
    sh = shingles_from_tokens(F.col("_toks"), shingle_n)
    if hashed:
        sh = F.transform(sh, lambda s: F.xxhash64(s))
    return toksed.select("id", sh.alias("sh"))


def _window_fold(toks: Column, n: int) -> Column:
    """zip_with fold of n shifted slices of a token array: all
    positional n-gram windows, stride 1, order and duplicates kept.
    The token array sits in argument position (evaluated once per
    row), never inside a lambda body — see word_shingles for the
    measured O(words²) trap the fold avoids."""
    k = F.size(toks) - (n - 1)
    grams = F.slice(toks, 1, F.greatest(k, F.lit(1)))
    for j in range(1, n):
        grams = F.zip_with(
            grams,
            F.slice(toks, 1 + j, F.greatest(k, F.lit(1))),
            lambda a, b: F.concat_ws(" ", a, b),
        )
    return F.when(k >= 1, grams).otherwise(F.array().cast("array<string>"))


def span_windows(c: Column, n: int) -> Column:
    """ALL positional word n-gram windows (stride 1, duplicates and
    order kept — unlike word_shingles' distinct set) of normalized
    text, as array<string>. Documents shorter than ``n`` tokens yield
    an empty array (no padded partial window)."""
    return _window_fold(F.split(normalize_text(c), " "), n)


def duplicate_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """Exact duplicated token-span detection — the substring-level
    dedup of Lee et al. 2022 ("Deduplicating Training Data Makes
    Language Models Better"), reduced to its Spark-native core: every
    width-``window`` token span (stride 1) is md5-fingerprinted and
    spans occurring in >= ``min_docs`` DISTINCT documents are
    reported with their document and occurrence counts. Catches
    boilerplate/quotation overlap that whole-document near-dup
    (minhash/simhash) misses because the containing documents differ.

    Scale shape: the window fold is a pure projection (zero shuffle),
    then TWO partial-agg shuffles — (span_hash, doc) to collapse
    within-doc repeats, span_hash for the cross-doc counts — chosen
    over a single countDistinct agg, whose Expand doubles the
    exploded-row volume entering the first exchange. Both shuffles
    carry the 32-char hash, never the span text. Hot spans (stop-word
    runs) cannot skew the FIRST exchange beyond one row per
    (span, doc); the second exchange sees one row per (span, doc) —
    bounded by corpus size, salting unneeded."""
    df = _parallel(df)
    # tokens in their own codegen'd projection (see shingles_from_tokens)
    w = df.select(
        F.col(id_col).alias("doc_id"),
        tokens_col(F.col(text_col)).alias("_toks"),
    ).select(
        "doc_id",
        F.explode(_window_fold(F.col("_toks"), window)).alias("span"),
    )
    per_doc = (
        w.select("doc_id", F.md5(F.col("span").cast("binary")).alias("span_hash"))
        .groupBy("span_hash", "doc_id")
        .agg(F.count("*").alias("occ"))
    )
    return (
        per_doc.groupBy("span_hash")
        .agg(F.count("*").alias("n_docs"), F.sum("occ").alias("n_occ"))
        .filter(F.col("n_docs") >= min_docs)
    )


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    window: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_text_col: str = "text",
) -> DataFrame:
    """Benchmark decontamination — flag every training document that
    shares at least one width-``window`` token span with an
    evaluation corpus (the n-gram-overlap test-set hygiene rule of
    GPT-3 appendix C / the Llama eval decontamination recipe; the
    engine analogue of Silk's LinkFilter over exact sub-sequence
    agreement). Returns one row per CONTAMINATED doc:
    (doc_id, n_shared_spans = distinct benchmark spans it contains,
    first_span_hash = min span hash, for audit sampling). Callers
    anti-join the result against the corpus to drop, or keep the
    counts as a quality column.

    Scale shape: both sides reduce to DISTINCT (doc, md5-span) /
    (span) rows before any join — the window fold is a zero-shuffle
    projection (same kernel as duplicate_spans), the shuffles carry
    32-char hashes only, never text, and the benchmark side collapses
    to its distinct span set (|benchmark spans|, typically 10⁴-10⁶ —
    AQE turns the final equi-join into a broadcast when it fits,
    without baking that assumption in for TB-scale eval suites). Hot
    spans cost one row per (span, doc) — bounded, no salting
    needed."""
    d = _parallel(docs)
    spans_d = (
        d.select(
            F.col(id_col).alias("doc_id"),
            tokens_col(F.col(text_col)).alias("_toks"),
        )
        .select("doc_id", F.explode(_window_fold(F.col("_toks"), window)).alias("span"))
        .select("doc_id", F.md5(F.col("span").cast("binary")).alias("h"))
        .dropDuplicates(["doc_id", "h"])
    )
    spans_b = (
        benchmark.select(tokens_col(F.col(bench_text_col)).alias("_toks"))
        .select(F.explode(_window_fold(F.col("_toks"), window)).alias("span"))
        .select(F.md5(F.col("span").cast("binary")).alias("h"))
        .dropDuplicates(["h"])
    )
    return (
        spans_d.join(spans_b, "h")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shared_spans"),
            F.min("h").alias("first_span_hash"),
        )
    )


# Keeper ordering for strip_duplicate_spans: occurrences are ranked by
# doc_id * 2^20 + position, so token positions must fit in 20 bits.
# Past ~10^6 tokens a "document" is a corpus concatenation bug, so the
# failure mode is a clear cap (rdf.py vocabulary-cap policy), not a
# silent wrong keeper.
_SPAN_POS_BITS = 1 << 20


def strip_duplicate_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """Substring-level dedup REMOVAL (the second half of Lee et al.
    2022): for every width-``window`` token span duplicated across
    >= ``min_docs`` documents, keep only the globally-first occurrence
    (min doc_id, then min position — engine-portable total order) and
    drop every token covered by any other occurrence. Returns one row
    per document: (doc_id, n_tokens, n_removed, clean_fp) where
    clean_fp is the md5 of the cleaned, space-joined token stream —
    compact enough to hash-compare against the DuckDB oracle without
    shipping rebuilt text through the compare.

    Scale shape: window fold + md5 are projections; the duplicate
    census shuffles only (hash, doc, pos); coverage positions explode
    window-fold wide but collapse by (doc, pos) with partial agg
    before the per-doc gather; the final rebuild is a higher-order
    filter over the token array — per-row, no Python. The per-doc
    removed-position set is bounded by the document's own token count."""
    df = _parallel(df)
    toks_col = F.filter(F.split(normalize_text(F.col(text_col)), " "), lambda x: x != "")
    base = df.select(F.col(id_col).alias("doc_id"), toks_col.alias("toks"))
    spans = base.select(
        "doc_id",
        F.posexplode(_window_fold(F.col("toks"), window)).alias("pos", "span"),
    ).select(
        "doc_id", "pos", F.md5(F.col("span").cast("binary")).alias("h")
    )
    occ_key = F.col("doc_id") * _SPAN_POS_BITS + F.col("pos")
    dup = (
        spans.groupBy("h")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.min(occ_key).alias("keeper"),
        )
        .filter(F.col("n_docs") >= min_docs)
        .select("h", "keeper")
    )
    removable = spans.join(dup, "h").filter(occ_key != F.col("keeper"))
    cov = (
        removable.select(
            "doc_id",
            F.explode(F.sequence(F.col("pos"), F.col("pos") + (window - 1))).alias("p"),
        )
        .groupBy("doc_id")
        .agg(F.collect_set("p").alias("rp"))
    )
    kept = F.filter(
        F.col("toks"),
        lambda x, i: ~F.array_contains(
            F.coalesce(F.col("rp"), F.array().cast("array<int>")), i
        ),
    )
    return base.join(cov, "doc_id", "left").select(
        "doc_id",
        F.size("toks").alias("n_tokens"),
        F.coalesce(F.size("rp"), F.lit(0)).alias("n_removed"),
        F.md5(F.concat_ws(" ", kept).cast("binary")).alias("clean_fp"),
    )


# ---------------------------------------------------------------------------
# 1. exact dedup
# ---------------------------------------------------------------------------


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Hash-groupBy exact dedup on normalized text: one survivor (min
    id) per content group. md5 keeps group ids portable across engines.
    Map-side partial agg → shuffles |groups| rows, not |docs|."""
    df = _parallel(df)
    return (
        df.withColumn("_fp", F.md5(normalize_text(F.col(text_col))))
        .groupBy("_fp")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count("*").alias("group_size"),
        )
        .select(F.col("_fp").alias("fingerprint"), "keep_id", "group_size")
    )


# ---------------------------------------------------------------------------
# 2. n-gram Jaccard near-dup (token-block candidates + exact verify)
# ---------------------------------------------------------------------------


def jaccard_similarity(a: Column, b: Column) -> Column:
    inter = F.size(F.array_intersect(a, b)).cast("double")
    union = F.size(F.array_union(a, b)).cast("double")
    return F.when(union == 0, F.lit(1.0)).otherwise(inter / union)



def _verified_pairs(exploded_ids, shingles, threshold: float):
    """Shared tail of every candidate-based dedup: candidates as BARE
    ID pairs (explode -> equi-join -> a.id < b.id -> dropDuplicates),
    then re-attach each side's shingles with two joins and verify with
    exact Jaccard. Deduping narrow id pairs instead of rows carrying
    shingle arrays keeps the candidate shuffle tiny — the arrays cross
    the wire only |pairs| times, not |candidates| times.

    When the index frame carries a `_sz` column (shingle set size,
    one int per index row — see shingle_prefix_index), the PPJoin
    LENGTH filter runs on the joined index rows before the pair
    dedup: Jaccard(X,Y) >= t implies |X∩Y| >= t·|X∪Y|, and with
    |X∩Y| <= min(|X|,|Y|), |X∪Y| >= max(|X|,|Y|) that forces
    min >= t·max — so dropping size-ratio violators loses no
    qualifying pair while cutting the verify joins (~24% of sf0.1's
    candidates at t=0.5; the skew-length tail prunes harder)."""
    has_sz = "_sz" in exploded_ids.columns
    lcols = [F.col("id").alias("left_id"), "_block"] + (
        [F.col("_sz").alias("_lsz")] if has_sz else []
    )
    rcols = [F.col("id").alias("right_id"), "_block"] + (
        [F.col("_sz").alias("_rsz")] if has_sz else []
    )
    l = exploded_ids.select(*lcols)
    r = exploded_ids.select(*rcols)
    joined = l.join(r, "_block").filter(F.col("left_id") < F.col("right_id"))
    if has_sz:
        joined = joined.filter(
            F.least("_lsz", "_rsz")
            >= F.lit(float(threshold)) * F.greatest("_lsz", "_rsz")
        )
    cand = joined.select("left_id", "right_id").dropDuplicates(
        ["left_id", "right_id"]
    )
    return verify_pairs_exact(cand, shingles, threshold)


def verify_pairs_exact(cand: DataFrame, shingles: DataFrame, threshold: float) -> DataFrame:
    """Exact-Jaccard verification of bare (left_id, right_id)
    candidate pairs against a (id, sh) shingle frame — the shared
    verify tail, public so candidate sets from OTHER generators (the
    incremental band-index probe) get the same precision-exact
    semantics."""
    lsh_side = shingles.select(F.col("id").alias("left_id"), F.col("sh").alias("left_sh"))
    rsh_side = shingles.select(F.col("id").alias("right_id"), F.col("sh").alias("right_sh"))
    pairs = cand.join(lsh_side, "left_id").join(rsh_side, "right_id")
    return (
        pairs.withColumn("jaccard", jaccard_similarity(F.col("left_sh"), F.col("right_sh")))
        .filter(F.col("jaccard") >= threshold)
        .select("left_id", "right_id", F.round("jaccard", 6).alias("jaccard"))
    )


def shingle_prefix_index(
    docs: DataFrame, threshold: float, prefix: int | str | None = "auto"
) -> DataFrame:
    """(id, _block) index rows for candidate generation over a
    (id, sh: array<string>) frame.

    The positional prefix filter (Chaudhuri et al. ICDE'06; Xiao et
    al. PPJoin, WWW'08 Lemma 1) is ON by default: only each doc's
    floor((1-t)*|sh|)+1 lexicographically-smallest shingles are
    indexed. Soundness: Jaccard(X,Y) >= t implies overlap
    |X∩Y| >= t*|X∪Y| >= ceil(t*max(|X|,|Y|)), and the prefix lemma
    says two sets with overlap >= o MUST share an element within
    their (|X|-o+1)- and (|Y|-o+1)-prefixes under any global total
    order; floor((1-t)|X|)+1 >= |X|-ceil(t|X|)+1 >= |X|-o+1, so the
    candidate set provably contains every qualifying pair — while a
    ubiquitous ("hot") shingle that sorts outside the prefix no
    longer creates an O(n²) block.

    `prefix`: "auto" = the sound per-doc bound above; an int = fixed
    prefix length (caller guarantees soundness); None = index every
    shingle (exact recall without any assumption, quadratic risk).

    Every index row carries `_sz` = |sh| (one int) so _verified_pairs
    can apply the PPJoin length filter before the pair dedup."""
    index = F.array_sort(F.col("sh"))
    if prefix == "auto":
        plen = (F.floor(F.lit(1.0 - threshold) * F.size("sh")) + 1).cast("int")
        index = F.slice(index, F.lit(1), plen)
    elif prefix is not None:
        index = F.slice(index, 1, prefix)
    return docs.select(
        "id", F.size("sh").alias("_sz"), F.explode(index).alias("_block")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    shingle_n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    prefix: int | str | None = "auto",
) -> DataFrame:
    """All unordered doc pairs with shingle-Jaccard >= threshold.

    Candidates: docs sharing >= 1 INDEXED shingle, where the index is
    prefix-filtered by default (see shingle_prefix_index — provably
    lossless at `threshold`, subquadratic under hot shingles); the
    exact-Jaccard verify removes all false positives, so the result
    set is identical for any sound `prefix` setting.

    The (id, shingles) frame is persisted (MEMORY_AND_DISK, Spark LRU
    evicts under pressure): four subplans reference it — index l/r and
    verify l/r — and recomputing the tokenization (two regex passes +
    split per doc) each time measured ~2x the whole operator at
    sf0.1. Multi-pass reuse of the tokenized corpus is the standard
    trade; pass-through scans stay lazy everywhere else."""
    docs = _persist(
        shingle_frame(_parallel(df), shingle_n, text_col, id_col, hashed=True)
    )
    exploded = shingle_prefix_index(docs, threshold, prefix)
    return _verified_pairs(exploded, docs, threshold)


# ---------------------------------------------------------------------------
# 3. MinHash + LSH
# ---------------------------------------------------------------------------


def minhash_signatures(
    df: DataFrame,
    num_perm: int = 128,
    shingle_n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    seed: int = 42,
) -> DataFrame:
    """(id, sig array<bigint>[num_perm]) as ONE narrow projection:
    shingle hashes materialize once per doc as an array column, each
    permutation is array_min(transform(...)) over it. Zero shuffle —
    the earlier explode + 128-min groupBy formulation shuffled |doc|x
    |shingles| rows through a hash aggregate and measured 4.5x slower
    at sf0.1 for byte-identical signatures. At 100 TB the difference
    is an entire exchange of the tokenized corpus vs none."""
    params = _perm_params(num_perm, seed)
    impl = _signature_impl(df)
    # null/empty text never yields a null shingle ARRAY — word_shingles'
    # short-doc fallback emits a one-element degenerate array ([null]
    # or [""]), so every such doc would share ONE signature and band-
    # collide into a single O(m²)-candidate LSH block. Jaccard over an
    # empty shingle set is undefined anyway: exclude those docs here
    # (the _content_guard), as does simhash_bands.
    guarded = _parallel(df).filter(_content_guard(text_col))
    if impl == "fused":
        return guarded.select(
            F.col(id_col).alias("id"),
            _minhash_fused_arrow(params, shingle_n)(F.col(text_col)).alias("sig"),
        )
    # tokens materialized in their own codegen'd projection — the HOF
    # shingle layer below is interpreted and would otherwise re-run
    # the regex normalization ~8x per row (see shingles_from_tokens)
    toksed = guarded.select(
        F.col(id_col).alias("id"), tokens_col(F.col(text_col)).alias("_toks")
    )
    hs = F.transform(
        shingles_from_tokens(F.col("_toks"), shingle_n),
        lambda s: F.pmod(F.xxhash64(s), F.lit(MERSENNE_P)),
    )
    base = toksed.select("id", hs.alias("_hs"))
    if impl == "arrow":
        return base.select("id", _minhash_sig_arrow(params)(F.col("_hs")).alias("sig"))
    sig = F.array(
        *[
            F.array_min(F.transform(F.col("_hs"), lambda x: (F.lit(a) * x + F.lit(b)) % MERSENNE_P))
            for a, b in params
        ]
    )
    return base.select("id", sig.alias("sig"))


def minhash_lsh_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    num_perm: int = 128,
    bands: int = 32,
    shingle_n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    seed: int = 42,
) -> DataFrame:
    """MinHash→banded-LSH→bucket-join→exact-Jaccard-verify.

    With r = num_perm/bands rows per band, a pair at similarity s is
    missed with prob (1 - s^r)^bands — at s=0.5, r=4, b=32 that is
    ~1.2e-1... so tune (r, b) to the threshold; defaults give <1e-6
    at s>=0.8 and the verify step removes all false positives, so
    precision is always exact and recall is the tunable."""
    exploded = minhash_banded(
        df, num_perm, bands, shingle_n, text_col, id_col, seed
    )
    # persisted: the verify joins reference this frame twice (see
    # ngram_jaccard_pairs for the measured rationale)
    shingles = _persist(
        shingle_frame(df, shingle_n, text_col, id_col, hashed=True)
    )
    return _verified_pairs(exploded, shingles, threshold)


def minhash_banded(
    df: DataFrame,
    num_perm: int = 128,
    bands: int = 32,
    shingle_n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    seed: int = 42,
) -> DataFrame:
    """(id, _block) exploded LSH band rows — the candidate-index form
    minhash_lsh_pairs joins on, exposed for callers that PERSIST the
    index across batches (IncrementalDeduper). Band ids are stable in
    (num_perm, bands, seed) under a fixed signature impl; an index
    must be built and probed under the same `spark.silk.signatures.
    impl` (ids differ across impls, injectively — see
    _minhash_bands_fused_arrow)."""
    assert num_perm % bands == 0
    r = num_perm // bands
    if _signature_impl(df) == "fused":
        # band ids straight out of the fused kernel: the 128-long
        # signature never crosses the Arrow boundary, and the band
        # hashing is vectorized (see _minhash_bands_fused_arrow for
        # why the ids may differ across impls while the candidate
        # pair set cannot)
        params = _perm_params(num_perm, seed)
        banded = (
            _parallel(df)
            .filter(_content_guard(text_col))
            .select(
                F.col(id_col).alias("id"),
                _minhash_bands_fused_arrow(params, shingle_n, bands)(
                    F.col(text_col)
                ).alias("_bands"),
            )
        )
        return banded.select("id", F.explode("_bands").alias("_block"))
    sigs = minhash_signatures(df, num_perm, shingle_n, text_col, id_col, seed)
    # band hash over SCALAR element_at args, not an array slice:
    # xxhash64 over an array argument measured ~4x slower in the
    # codegen'd projection (slice allocation + array hashing loop)
    band_ids = F.array(
        *[
            F.xxhash64(
                F.lit(j), *[F.element_at("sig", j * r + k + 1) for k in range(r)]
            )
            for j in range(bands)
        ]
    )
    return sigs.select("id", F.explode(band_ids).alias("_block"))


# ---------------------------------------------------------------------------
# 4. SimHash
# ---------------------------------------------------------------------------


def simhash_bands(
    df: DataFrame,
    bits: int = 64,
    band_bits: int = 16,
    shingle_n: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, bands array<bigint>) — SimHash of shingle hashes, emitted
    as bit-bands (never one packed 64-bit int: band equality is the
    LSH join key AND packing would overflow under ANSI mode).

    bit_b = sign(sum over tokens of ±1 by token-hash bit b) =
    [2 * count(bit set) > count], computed per bit with size(filter())
    over the per-doc hash array — ONE narrow projection, zero shuffle
    (the explode + bits-sum groupBy exchanged |docs|x|shingles| rows
    for identical bits; same rewrite as minhash_signatures)."""
    toksed = df.filter(_content_guard(text_col)).select(
        F.col(id_col).alias("id"), tokens_col(F.col(text_col)).alias("_toks")
    )
    hs = F.transform(
        shingles_from_tokens(F.col("_toks"), shingle_n), lambda s: F.xxhash64(s)
    )
    base = toksed.select("id", hs.alias("_hs"))
    n = F.size("_hs")

    def bit(b: int) -> F.Column:
        cnt = F.size(
            F.filter(F.col("_hs"), lambda x: F.shiftright(x, b).bitwiseAND(F.lit(1)) == 1)
        )
        return F.when(cnt * 2 > n, F.lit(1).cast("bigint")).otherwise(F.lit(0).cast("bigint"))

    n_bands = bits // band_bits
    bands = []
    for j in range(n_bands):
        packed = None
        for k in range(band_bits):
            term = bit(j * band_bits + k) * F.lit(1 << k).cast("bigint")
            packed = term if packed is None else packed + term
        bands.append(packed)
    return base.select("id", F.array(*[F.xxhash64(F.lit(j), b) for j, b in enumerate(bands)]).alias("bands"))


def simhash_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    shingle_n: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """SimHash-banded candidates (>=1 identical 16-bit band of 64 ≈
    Hamming distance tolerance ~3 per band miss) + exact shingle-
    Jaccard verification at `threshold` — precision exact, recall set
    by the band structure."""
    df = _parallel(df)
    bands = simhash_bands(df, shingle_n=shingle_n, text_col=text_col, id_col=id_col)
    exploded = bands.select("id", F.explode("bands").alias("_block"))
    # persisted: the verify joins reference this frame twice (see
    # ngram_jaccard_pairs for the measured rationale)
    shingles = _persist(
        shingle_frame(df, shingle_n, text_col, id_col, hashed=True)
    )
    return _verified_pairs(exploded, shingles, threshold)


def simhash60_signature(
    df: DataFrame,
    shingle_n: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, sig) — 60-bit SimHash whose token hash is the first 15 hex
    chars of md5(shingle), so the signature is ENGINE-PORTABLE (md5 +
    hex-parse exist in Spark and DuckDB alike; verified bit-identical).
    60 bits packs into one bigint without ANSI overflow (< 2^60).

    bit_b = [sum over distinct shingles of ±1 by hash-bit b] > 0,
    i.e. [2 * count(bit set) > count], computed per bit with
    size(filter()) over the per-doc hash array — one narrow
    projection, zero shuffle (same rewrite as minhash_signatures;
    bit-identical to the explode + 60-sum groupBy it replaces)."""
    impl = _signature_impl(df)
    guarded = _parallel(df).filter(_content_guard(text_col))
    if impl == "fused":
        return guarded.select(
            F.col(id_col).alias("id"),
            _simhash60_fused_arrow(shingle_n)(F.col(text_col)).alias("sig"),
        )
    toksed = guarded.select(
        F.col(id_col).alias("id"), tokens_col(F.col(text_col)).alias("_toks")
    )
    hs = F.transform(
        shingles_from_tokens(F.col("_toks"), shingle_n),
        lambda s: F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("bigint"),
    )
    base = toksed.select("id", hs.alias("_hs"))
    if impl == "arrow":
        return base.select("id", _simhash60_sig_arrow()(F.col("_hs")).alias("sig"))
    n = F.size("_hs")
    sig = None
    for b in range(60):
        cnt = F.size(
            F.filter(F.col("_hs"), lambda x: F.shiftright(x, b).bitwiseAND(F.lit(1)) == 1)
        )
        term = F.when(cnt * 2 > n, F.lit(1 << b).cast("bigint")).otherwise(
            F.lit(0).cast("bigint")
        )
        sig = term if sig is None else sig + term
    return base.select("id", sig.alias("sig"))


def simhash_hamming_pairs(
    df: DataFrame,
    max_hamming: int = 3,
    band_bits: int = 15,
    shingle_n: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """All unordered pairs with SimHash Hamming distance <= max_hamming
    — EXACT result through an LSH-shaped plan: candidates = pairs
    sharing >= 1 of the 60/band_bits signature bands, verified with
    full bit_count(xor). Pigeonhole guarantee: max_hamming differing
    bits can touch at most max_hamming of the n_bands bands, so any
    qualifying pair shares a band whenever n_bands > max_hamming —
    recall is provably 1.0, which is what makes this query
    oracle-checkable (DuckDB recomputes the identical signature).

    Scale shape: |docs| * n_bands rows into one equi-join; no O(n^2)
    stage anywhere (reference Matcher.scala:254-291 candidate-then-
    verify, reborn with a provable-recall band structure)."""
    n_bands = 60 // band_bits
    assert n_bands > max_hamming, "pigeonhole guarantee needs n_bands > max_hamming"
    sigs = simhash60_signature(df, shingle_n, text_col, id_col)
    mask = (1 << band_bits) - 1
    blocks = F.array(
        *[
            F.shiftright(F.col("sig"), j * band_bits).bitwiseAND(F.lit(mask))
            + F.lit(j << band_bits).cast("bigint")
            for j in range(n_bands)
        ]
    )
    exploded = sigs.select("id", F.explode(blocks).alias("_block"))
    l = exploded.select(F.col("id").alias("left_id"), "_block")
    r = exploded.select(F.col("id").alias("right_id"), "_block")
    cand = (
        l.join(r, "_block")
        .filter(F.col("left_id") < F.col("right_id"))
        .select("left_id", "right_id")
        .dropDuplicates(["left_id", "right_id"])
    )
    lsig = sigs.select(F.col("id").alias("left_id"), F.col("sig").alias("_ls"))
    rsig = sigs.select(F.col("id").alias("right_id"), F.col("sig").alias("_rs"))
    return (
        cand.join(lsig, "left_id")
        .join(rsig, "right_id")
        .withColumn("hamming", F.bit_count(F.col("_ls").bitwiseXOR(F.col("_rs"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("left_id", "right_id", F.col("hamming").cast("bigint").alias("hamming"))
    )


# ---------------------------------------------------------------------------
# 5. near-dup clusters (connected components + survivorship)
# ---------------------------------------------------------------------------


def connected_components(
    nodes: DataFrame,
    edges: DataFrame,
    id_col: str = "id",
    left_col: str = "left_id",
    right_col: str = "right_id",
    max_iter: int = 50,
) -> DataFrame:
    """(id, cluster_id) via iterative min-label propagation: every node
    starts labeled with itself; each round every node takes the min
    label in its closed neighborhood. Each round is two shuffles over
    |edges| + |nodes|, no driver-side graph.

    Convergence is DETECTED, not assumed: the loop stops at the first
    round that changes zero labels (the changed-count rides the
    checkpointed frame, so the check is one cheap count on already-
    materialized data). `max_iter` is only a safety cap — a graph
    whose diameter exceeds it raises instead of silently returning
    split clusters (a chain of near-dups longer than the cap would
    otherwise mislabel and diverge from the transitive-closure
    oracle).

    The distributed-iteration face of Silk's transitive link handling;
    survivorship (keep min id per cluster) mirrors exact_dedup's
    min-id winner rule.

    Two scale properties worth naming:
      * the edge set is MATERIALIZED once (localCheckpoint) before the
        loop — edges usually come from an expensive candidate-generation
        plan (shingle explode + self-join + verify), and without the
        checkpoint every round would re-execute that whole plan;
      * propagation runs only over nodes incident to an edge (at most
        2|edges| of them). Isolated nodes — the overwhelming majority
        in a near-dup graph — are their own cluster by definition and
        are stitched back with one left join at the end, so each round
        shuffles O(|edges|), not O(|corpus|)."""
    und = (
        edges.select(F.col(left_col).alias("src"), F.col(right_col).alias("dst"))
        .union(edges.select(F.col(right_col).alias("src"), F.col(left_col).alias("dst")))
        .localCheckpoint(eager=True)
    )
    labels = (
        und.select(F.col("src").alias("nid")).distinct().withColumn("label", F.col("nid"))
    )
    for _ in range(max_iter):
        neigh = (
            und.join(labels, und["dst"] == labels["nid"])
            .groupBy("src")
            .agg(F.min("label").alias("nlabel"))
        )
        new_labels = (
            labels.join(neigh, labels["nid"] == neigh["src"], "left")
            .select(
                "nid",
                F.least(F.col("label"), F.coalesce(F.col("nlabel"), F.col("label"))).alias("label"),
                (F.coalesce(F.col("nlabel") < F.col("label"), F.lit(False))).alias("_chg"),
            )
        )
        checkpointed = new_labels.localCheckpoint(eager=True)  # cut lineage per round
        labels = checkpointed.drop("_chg")
        if checkpointed.filter(F.col("_chg")).limit(1).count() == 0:
            break
    else:
        raise RuntimeError(
            f"connected_components did not converge within max_iter={max_iter} "
            "rounds — raise the cap (component diameter exceeds it)"
        )
    # stitch isolated nodes (no incident edge) back as singleton clusters
    all_nodes = nodes.select(F.col(id_col).alias("_n"))
    return (
        all_nodes.join(labels, all_nodes["_n"] == labels["nid"], "left")
        .select(
            F.col("_n").alias(id_col),
            F.coalesce(F.col("label"), F.col("_n")).alias("cluster_id"),
        )
    )


def near_dup_clusters(
    df: DataFrame,
    threshold: float = 0.5,
    shingle_n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_iter: int = 50,
    prefix: int | str | None = "auto",
) -> DataFrame:
    """Survivorship view of near-dup detection: group documents into
    clusters transitively connected by shingle-Jaccard >= threshold,
    keep min doc id as the canonical survivor. (doc_id, cluster_id,
    is_survivor). Candidate generation uses the sound prefix filter by
    default (see shingle_prefix_index); label propagation stops at the
    detected fixpoint, `max_iter` is a safety cap only."""
    pairs = ngram_jaccard_pairs(df, threshold, shingle_n, text_col, id_col, prefix=prefix)
    nodes = df.select(F.col(id_col).alias("id"))
    cc = connected_components(nodes, pairs, max_iter=max_iter)
    return cc.select(
        F.col("id").alias(id_col),
        "cluster_id",
        (F.col("id") == F.col("cluster_id")).alias("is_survivor"),
    )


# ---------------------------------------------------------------------------
# 6. embedding cosine near-dup
# ---------------------------------------------------------------------------


def vec_norm(a: Column) -> Column:
    """L2 norm of an array<float/double> column."""
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double"))
    )


def dot_product(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def cosine_similarity(a: Column, b: Column, norm_a: Column | None = None, norm_b: Column | None = None) -> Column:
    """JVM-side cosine via zip_with+aggregate. Pass precomputed norms
    when scoring many pairs per row side — hoisting the norm from the
    O(pairs) join to the O(rows) input is bit-identical (same formula,
    same accumulation order) and removes 2/3 of the arithmetic."""
    na = vec_norm(a) if norm_a is None else norm_a
    nb = vec_norm(b) if norm_b is None else norm_b
    return dot_product(a, b) / (na * nb)


def embedding_near_dup_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_planes: int = 0,
    seed: int = 42,
    dim: int | None = None,
) -> DataFrame:
    """Near-duplicate vector pairs with cosine >= threshold.

    n_planes=0 → brute-force all-pairs (baseline / oracle parity;
    O(n²) — rerank/verification use only, never the primary path).
    n_planes>0 → random-hyperplane LSH: sign-pattern bucket join
    (candidates share the full sign signature OR one of n_planes
    one-bit-flipped variants — multi-probe, i.e. signature Hamming
    distance <= 1) then exact cosine verify. Precision is exact;
    recall is set by (n_planes, probe depth) and rises as the
    similarity threshold does — the scale path for true near-dup
    regimes (cosine >= ~0.9). Pass `dim` (known from the schema
    registry) to keep plan construction action-free; it falls back to
    a one-row peek only when omitted."""
    base = _parallel(df).select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("v"), vec_norm(F.col(vec_col)).alias("n")
    )
    if n_planes <= 0:
        l = base.select(F.col("id").alias("left_id"), F.col("v").alias("lv"), F.col("n").alias("ln"))
        r = base.select(F.col("id").alias("right_id"), F.col("v").alias("rv"), F.col("n").alias("rn"))
        pairs = l.crossJoin(r).filter(F.col("left_id") < F.col("right_id"))
    else:
        if dim is None:
            dim = len(base.first()["v"])
        planes = _random_planes(n_planes, dim, seed)
        sig = _sign_signature(F.col("v"), planes)
        probes = F.array(
            *([sig] + [sig.bitwiseXOR(F.lit(1 << j).cast("bigint")) for j in range(n_planes)])
        )
        exact = base.select("id", "v", "n", sig.alias("_block"))
        probed = base.select("id", "v", "n", F.explode(probes).alias("_block"))
        l = probed.select(F.col("id").alias("left_id"), F.col("v").alias("lv"), F.col("n").alias("ln"), "_block")
        r = exact.select(F.col("id").alias("right_id"), F.col("v").alias("rv"), F.col("n").alias("rn"), "_block")
        pairs = (
            l.join(r, "_block")
            .filter(F.col("left_id") < F.col("right_id"))
            .dropDuplicates(["left_id", "right_id"])
        )
    return (
        pairs.withColumn(
            "cosine",
            cosine_similarity(F.col("lv"), F.col("rv"), F.col("ln"), F.col("rn")),
        )
        .filter(F.col("cosine") >= threshold)
        .select("left_id", "right_id", F.round("cosine", 6).alias("cosine"))
    )


def _random_planes(n: int, dim: int, seed: int) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes (LCG, no numpy RNG state)."""
    planes = []
    x = seed * 2654435761 % (1 << 31)
    for _ in range(n):
        row = []
        for _ in range(dim):
            x = (1103515245 * x + 12345) % (1 << 31)
            row.append((x / float(1 << 31)) * 2.0 - 1.0)
        planes.append(row)
    return planes


def _sign_signature(v: Column, planes: list[list[float]]) -> Column:
    """Pack sign(v·plane_j) bits into a bigint signature column."""
    sig = None
    for j, plane in enumerate(planes):
        arr = F.array(*[F.lit(float(w)) for w in plane])
        dot = F.aggregate(
            F.zip_with(v, arr, lambda x, y: x.cast("double") * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bit = F.when(dot >= 0, F.lit(1 << j).cast("bigint")).otherwise(F.lit(0).cast("bigint"))
        sig = bit if sig is None else sig + bit
    return sig
