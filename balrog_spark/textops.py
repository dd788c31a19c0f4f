"""Large-scale training-data text operators — dedup, quality, language id.

All operators are pure column programs (split/md5/regexp/explode) so they run
entirely inside whole-stage codegen — no Python on the hot path. Each has an
exact ANSI-SQL twin used as its DuckDB oracle (the md5-based hashing is
engine-portable: Spark and DuckDB produce identical digests).

Scale notes:
- exact dedup is one hash-aggregate (map-side partial combine);
- shingle-based ops explode to ~n_chars rows per document; at corpus scale
  the explode is balanced by doc length and the heavy self-join happens on
  shingle/band keys — skew on hot shingles is handled by ``max_df``:
  shingles whose document frequency exceeds the cap are dropped (one
  aggregate + a broadcast anti-join) BEFORE the self-join, since a
  stopword shingle makes its join key quadratic and carries no dedup
  signal; Jaccard is then defined over the df-filtered shingle space on
  both the engine and the oracle;
- MinHash-LSH replaces the quadratic n-gram join with banding: candidate
  pairs come from equality on (band, band_key), i.e. an equi-join Catalyst
  can hash-partition. Shingle hashing is an arithmetic polynomial hash +
  affine permutations mod a Mersenne prime — pure integer column math
  (no md5 on the hot path) that both Spark and DuckDB evaluate
  identically, ~12x cheaper than one md5 per permutation per shingle.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, functions as F

# MinHash permutation family: h_i = (A[i] * h + B[i]) mod P over the
# polynomial shingle hash h; P = 2^31 - 1 keeps every product < 2^62 so
# both engines stay in exact int64 arithmetic.
MH_P = 2147483647
MH_A = (1000003, 1000033, 1000211, 1000231, 1000249, 1000253,
        1000297, 1000303, 1000313, 1000333, 1000357, 1000381)
MH_B = (7, 130363, 260719, 391081, 521437, 651793,
        782149, 912505, 1042861, 1173217, 1303573, 1433929)


def shingle_hash_col(col, k: int):
    """Polynomial hash of a k-char shingle: fold h = (h*31 + ascii(c)) % P.
    Portable: the identical expression runs on DuckDB (ascii/substr/%)."""
    h = F.lit(0).cast("long")
    for j in range(1, k + 1):
        h = (h * F.lit(31) + F.ascii(F.substring(col, j, 1))) % F.lit(MH_P)
    return h


def shingle_hash_sql(col: str, k: int, base: int = 31) -> str:
    """DuckDB twin of :func:`shingle_hash_col` (BIGINT seed keeps DuckDB's
    literal-typed arithmetic out of INT32 overflow)."""
    h = "CAST(0 AS BIGINT)"
    for j in range(1, k + 1):
        h = f"(({h}) * {base} + ascii(substr({col}, {j}, 1))) % {MH_P}"
    return h

# whitespace-normalized, lowercased text — the canonical form every op uses
def _norm(col):
    return F.lower(F.regexp_replace(col, r"\s+", " "))


def _np_id_dtype(id_type: str):
    """numpy dtype for np.full fan-outs of a doc id: int64 for integral
    Spark types (an object array of Python ints costs a per-element
    conversion on the Arrow boundary), object otherwise."""
    import numpy as np

    return np.int64 if id_type in ("bigint", "int", "smallint",
                                   "tinyint") else object


# Python twin of _norm for Arrow-batched scans; [ \t\n\x0b\f\r] is exactly
# Java's (non-unicode) \s so both sides collapse the same characters
_WS_RE = re.compile(r"[ \t\n\x0b\f\r]+")


def _norm_py(s: str) -> str:
    return _WS_RE.sub(" ", s).lower()


def normalize(docs: DataFrame, text_col: str = "text",
              id_col: str = "doc_id", spread: bool = False) -> DataFrame:
    out = docs.select(F.col(id_col).alias("doc_id"),
                      _norm(F.col(text_col)).alias("norm"))
    if spread:
        # single-file parquet scans are 1 partition; everything downstream
        # of the shingle explode (~n_chars rows/doc) must not run on one
        # core — hash-repartition by doc_id across the cluster
        n = docs.sparkSession.sparkContext.defaultParallelism
        out = out.repartition(n, "doc_id")
    return out


def normalize_py(docs: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id") -> DataFrame:
    """(doc_id, norm) via the PYTHON normalizer (:func:`_norm_py`) in
    an Arrow-batched scan. Use this when downstream math consumes
    CHARACTER OFFSETS produced by the Python-side scans
    (substring_runs positions): Spark's ``lower`` falls back to
    JVM-locale toLowerCase for non-ASCII, which is not guaranteed
    length-identical to ``str.lower`` (e.g. U+0130 on a tr_TR JVM), so
    splicing JVM-normalized text at Python-computed offsets would
    silently shift."""
    id_type = docs.schema[id_col].dataType.simpleString()

    def scan(batches):
        import pandas as pd

        for pdf in batches:
            yield pd.DataFrame({
                "doc_id": pdf[id_col],
                "norm": [None if t is None else _norm_py(t)
                         for t in pdf[text_col]]})

    return (docs.select(id_col, text_col)
            .mapInPandas(scan, f"doc_id {id_type}, norm string"))


def exact_dedup_groups(docs: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id") -> DataFrame:
    """Exact duplicate groups by content hash: (content_hash, keep_id,
    n_dups). One shuffle (hash aggregate)."""
    n = normalize(docs, text_col, id_col)
    return (n.groupBy(F.md5("norm").alias("content_hash"))
            .agg(F.min("doc_id").alias("keep_id"),
                 F.count("*").alias("n_dups")))


def fingerprints(docs: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id") -> DataFrame:
    """Stable per-document content fingerprint (md5 of normalized text)."""
    n = normalize(docs, text_col, id_col)
    return n.select("doc_id", F.md5("norm").alias("fingerprint"))


def shingles(docs: DataFrame, k: int = 8, text_col: str = "text",
             id_col: str = "doc_id",
             max_df: int | None = None,
             distinct: bool = True) -> DataFrame:
    """Distinct character k-gram shingles per document: (doc_id, shingle).

    ``max_df`` drops shingles present in more than that many documents —
    the hot-shingle skew control: one stopword-like shingle (e.g. ``"the
    quic"``) otherwise makes the downstream self-join quadratic on that
    key. The hot set is tiny by construction, so the filter is a broadcast
    anti-join.

    ``distinct=False`` skips the per-document dedup — that dedup is a
    full-corpus shuffle (every character position of every document), so
    a consumer that immediately reduces the stream map-side should take
    the raw stream and dedup after its own filter. (Decontamination used
    to be that consumer; it now scans documents in
    :func:`decontaminate_flags`'s Arrow pass instead, so this knob
    currently serves external callers building their own probes.)"""
    n = normalize(docs, text_col, id_col, spread=True) \
        .filter(F.length("norm") >= k)
    sh = (n.select(
        "doc_id",
        F.explode(F.sequence(F.lit(1), F.length("norm") - (k - 1)))
        .alias("pos"),
        "norm")
        .select("doc_id",
                F.expr(f"substring(norm, pos, {k})").alias("shingle")))
    if distinct:
        sh = sh.distinct()
    if max_df is not None:
        hot = (sh.groupBy("shingle").agg(F.count("*").alias("df"))
               .filter(F.col("df") > max_df).select("shingle"))
        sh = sh.join(F.broadcast(hot), "shingle", "left_anti")
    return sh


def _poly_shingle_hashes(norm: str, k: int, base: int = 31):
    """All k-window portable polynomial hashes of an (already
    normalized) string — the EXACT values :func:`shingle_hash_col` /
    :func:`shingle_hash_sql` produce for each window, computed as a
    vectorized Horner scan over the utf-32 code-point array (Spark's
    ``ascii`` returns the code point, as does utf-32). O(k·L) C-speed;
    the per-position ``substring`` formulation is O(L²) bytes per
    document because UTF8String addresses by walking from the string
    head. int64-safe: h < 2^31 and code points < 2^21, so the Horner
    step peaks below 2^36."""
    import numpy as np

    cps = np.frombuffer(norm.encode("utf-32-le"),
                        dtype=np.uint32).astype(np.int64)
    n = cps.size - k + 1
    if n <= 0:
        return np.empty(0, dtype=np.int64)
    h = np.zeros(n, dtype=np.int64)
    for j in range(k):
        h = (h * base + cps[j:j + n]) % MH_P
    return h


def shingle_hash_stream(docs: DataFrame, k: int = 8,
                        text_col: str = "text", id_col: str = "doc_id"
                        ) -> DataFrame:
    """(doc_id, h) for every distinct k-char shingle of every document,
    where h is the portable polynomial shingle hash — ONE Arrow-batched
    scan per document instead of the explode→substring plan (which pays
    O(L²) bytes per document, see :func:`_poly_shingle_hashes`). The
    per-document dedup is np.unique inside the scan (no Spark-side
    shuffle). Documents shorter than k emit nothing, like the string
    path."""
    import numpy as np

    id_type = docs.schema[id_col].dataType.simpleString()
    id_np = _np_id_dtype(id_type)
    n_par = docs.sparkSession.sparkContext.defaultParallelism

    def scan(batches):
        import pandas as pd

        for pdf in batches:
            ids, hs = [], []
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                if text is None:
                    continue
                h = _poly_shingle_hashes(_norm_py(text), k)
                if h.size == 0:
                    continue
                h = np.unique(h)
                ids.append(np.full(h.size, doc_id, dtype=id_np))
                hs.append(h)
            yield pd.DataFrame({
                "doc_id": np.concatenate(ids) if ids else [],
                "h": np.concatenate(hs) if hs else []})

    return (docs.select(id_col, text_col)
            .repartition(n_par, id_col)
            .mapInPandas(scan, f"doc_id {id_type}, h long"))


def ngram_jaccard_pairs(docs: DataFrame, k: int = 8,
                        threshold: float = 0.4,
                        text_col: str = "text",
                        id_col: str = "doc_id",
                        max_df: int | None = None) -> DataFrame:
    """N-gram Jaccard near-duplicate pairs (doc_a < doc_b,
    jaccard >= threshold). Quadratic only in documents *sharing
    shingles* — the shingle equi-join is the prefilter. With ``max_df``
    set, Jaccard is defined over the df-filtered shingle space (sizes
    AND intersections both exclude dropped hot shingles, so the measure
    stays a true Jaccard).

    Shingle identity is the portable polynomial HASH (the oracle
    computes the identical hash in SQL, so the two engines agree
    deterministically, collisions included): the corpus is scanned once
    per document (:func:`shingle_hash_stream`), and every downstream
    join/aggregate keys on a long instead of an 8-char string. A
    cross-shingle hash collision inside one document merges two
    shingles for BOTH engines alike — at 2^31 hash space and
    real-world shingle counts this perturbs a Jaccard by at most one
    count, identically on both sides."""
    sh = shingle_hash_stream(docs, k, text_col, id_col).cache()
    if max_df is not None:
        hot = (sh.groupBy("h").agg(F.count("*").alias("df"))
               .filter(F.col("df") > max_df).select("h"))
        sh = sh.join(F.broadcast(hot), "h", "left_anti")
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    a = sh.select(F.col("doc_id").alias("doc_a"), "h")
    b = sh.select(F.col("doc_id").alias("doc_b"), "h")
    common = (a.join(b, "h")
              .filter(F.col("doc_a") < F.col("doc_b"))
              .groupBy("doc_a", "doc_b")
              .agg(F.count("*").alias("n_common")))
    sa = sizes.select(F.col("doc_id").alias("doc_a"),
                      F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"),
                      F.col("n_sh").alias("n_b"))
    j = (common.join(sa, "doc_a").join(sb, "doc_b")
         .withColumn("jaccard",
                     F.col("n_common")
                     / (F.col("n_a") + F.col("n_b") - F.col("n_common"))))
    return j.filter(F.col("jaccard") >= threshold) \
        .select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))


def substring_runs(docs: DataFrame, min_len: int = 24, k: int | None = None,
                   max_df: int | None = 100,
                   text_col: str = "text",
                   id_col: str = "doc_id") -> DataFrame:
    """Maximal exact shared character runs >= ``min_len`` between
    document pairs — the exact-substring dedup family member (the
    published suffix-array approach to training-set dedup finds the
    same spans; this is its shuffle-native formulation). Output one row
    per maximal run: (doc_a, doc_b, a_start, b_start, run_len), with
    1-based positions into the whitespace-normalized lowercased text.

    Shape: one Arrow-batched scan emits (doc_id, pos, h) per k-char
    window, where h packs TWO independent polynomial hashes (bases
    31/37 mod 2^31-1) into 62 bits — a cross-document false match needs
    both to collide (~2^-62 per window pair). A shared run of length R
    shares exactly R-k+1 consecutive windows, so the h equi-join gives
    the matching window pairs, and a gaps-and-islands pass over each
    pair's DIAGONAL (pa - pb; window partitioned by (doc_a, doc_b,
    diag), never global) merges them back into maximal runs:
    run_len = n_windows + k - 1.

    ``max_df`` drops windows with more than that many occurrences
    corpus-wide BEFORE the join — the skew control that bounds the
    equi-join at sum(C(df,2)) pairs per window value (hot windows are
    otherwise occurrences^2: boilerplate clusters AND within-document
    repetition). A dropped hot window splits any run crossing it;
    deterministic, and the identical cap applies in the SQL oracle.

    ``k`` defaults to ``min_len``, and that default is a SCALE
    invariant, not a convenience: the df of a window is the corpus
    frequency of its k-char string, which grows linearly with corpus
    size for any string determined by fewer tokens than the window
    spans. At k=12 a window fits inside ``" word w"`` — one token —
    so on a large corpus EVERY word-boundary window crosses any fixed
    cap and the cap shreds every run into sub-``min_len`` fragments
    (observed: this operator returned 0 rows at 50k docs with k=12
    while returning 150k at 2k docs). At k = min_len a capped window
    is by definition a corpus-hot string of run length itself — real
    boilerplate, which is :func:`exact_dedup` / cluster territory —
    and pair-specific runs survive at any corpus size. Pass a smaller
    k only with ``max_df=None`` (exact mode) or when the corpus is
    known small.

    Requires ``min_len >= k`` (a single matching window already proves
    a k-char run; windows can't prove anything shorter)."""
    if k is None:
        k = min_len
    if min_len < k:
        raise ValueError(f"min_len ({min_len}) must be >= k ({k})")
    import numpy as np

    id_type = docs.schema[id_col].dataType.simpleString()
    id_np = _np_id_dtype(id_type)
    n_par = docs.sparkSession.sparkContext.defaultParallelism

    def scan(batches):
        import pandas as pd

        for pdf in batches:
            ids, poss, hs = [], [], []
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                if text is None:
                    continue
                norm = _norm_py(text)
                h1 = _poly_shingle_hashes(norm, k, 31)
                if h1.size == 0:
                    continue
                h2 = _poly_shingle_hashes(norm, k, 37)
                ids.append(np.full(h1.size, doc_id, dtype=id_np))
                poss.append(np.arange(1, h1.size + 1, dtype=np.int64))
                hs.append(h1 * (1 << 31) + h2)
            yield pd.DataFrame({
                "doc_id": np.concatenate(ids) if ids else [],
                "pos": np.concatenate(poss) if poss else [],
                "h": np.concatenate(hs) if hs else []})

    hs = (docs.select(id_col, text_col)
          .repartition(n_par, id_col)
          .mapInPandas(scan, f"doc_id {id_type}, pos long, h long"))
    if max_df is not None:
        hs = hs.cache()
        hot = (hs.groupBy("h").agg(F.count("*").alias("df"))
               .filter(F.col("df") > max_df).select("h"))
        hs = hs.join(F.broadcast(hot), "h", "left_anti")
    # A collect_list(h)->double-explode pair expansion (one shuffle fewer)
    # was A/B-measured at sf0.1: no win and occasional 2x outliers —
    # >128 distinct keys/task puts ObjectHashAggregate on its sort-based
    # fallback, so the "saved" exchanges came back as per-task sorts.
    # The self-join keeps hash joins + map-combined counts throughout.
    # Alias AFTER one shared explicit repartition on the join key: with
    # per-side aliases the two join inputs are different subplans, so
    # the stream is scanned and shuffled TWICE; aliasing above a common
    # exchange makes Spark reuse it (one scan, one shuffle, both join
    # sides read the same exchange — ReusedExchange in the plan).
    hs = hs.repartition(n_par, "h")
    a = hs.select(F.col("doc_id").alias("doc_a"), F.col("pos").alias("pa"),
                  "h")
    b = hs.select(F.col("doc_id").alias("doc_b"), F.col("pos").alias("pb"),
                  "h")
    pairs = (a.join(b, "h")
             .filter(F.col("doc_a") < F.col("doc_b"))
             .select("doc_a", "doc_b", "pa", "pb",
                     (F.col("pa") - F.col("pb")).alias("diag")))
    from pyspark.sql import Window
    w = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("pa")
    isl = pairs.withColumn("grp", F.col("pa") - F.row_number().over(w))
    runs = (isl.groupBy("doc_a", "doc_b", "diag", "grp")
            .agg(F.min("pa").alias("a_start"),
                 F.min("pb").alias("b_start"),
                 (F.count("*") + F.lit(k - 1)).alias("run_len"))
            .filter(F.col("run_len") >= min_len)
            .select("doc_a", "doc_b", "a_start", "b_start", "run_len"))
    return runs


def remove_duplicate_spans(docs: DataFrame, min_len: int = 24,
                           k: int | None = None,
                           max_df: int | None = 100,
                           text_col: str = "text",
                           id_col: str = "doc_id",
                           runs: DataFrame | None = None) -> DataFrame:
    """Exact-substring dedup, completed: splice the shared runs OUT of
    every document's normalized text, keeping the canonical (lowest-id)
    occurrence intact — the published suffix-array span-removal
    endgame, here as the downstream half of :func:`substring_runs`.

    Policy: a run found between ``doc_a < doc_b`` is removed from
    ``doc_b`` only, so the id-earliest document carrying a span keeps
    it verbatim and later documents lose it. Per-document spans are
    merged (overlapping or touching half-open intervals collapse) in a
    window PARTITIONED BY doc_id — never global — then the kept
    segments are rebuilt with one ``F.aggregate`` fold over the sorted
    interval array (pure columns, whole-stage codegen; no UDF).

    Output one row per input document (including span-free ones):
    (doc_id, clean_text, n_spans, n_removed) where ``clean_text`` is
    the whitespace-normalized lowercased text with removed spans
    excised, ``n_spans`` the number of merged removal intervals and
    ``n_removed`` the count of removed characters.

    Pass ``runs=`` to reuse an already-computed (cached/checkpointed)
    :func:`substring_runs` result instead of recomputing it."""
    if runs is None:
        runs = substring_runs(docs, min_len=min_len, k=k, max_df=max_df,
                              text_col=text_col, id_col=id_col)
    from pyspark.sql import Window

    # half-open [s, e) removal intervals in doc_b's normalized text
    spans = runs.select(F.col("doc_b").alias("doc_id"),
                        F.col("b_start").alias("s"),
                        (F.col("b_start") + F.col("run_len")).alias("e"))
    w = Window.partitionBy("doc_id").orderBy("s", "e")
    merged = (
        spans
        .withColumn("prev_e", F.max("e").over(
            w.rowsBetween(Window.unboundedPreceding, -1)))
        .withColumn("ng", F.when(F.col("prev_e").isNull()
                                 | (F.col("s") > F.col("prev_e")), 1)
                    .otherwise(0))
        .withColumn("grp", F.sum("ng").over(w))
        .groupBy("doc_id", "grp")
        .agg(F.min("s").alias("s"), F.max("e").alias("e")))
    per_doc = (merged.groupBy("doc_id")
               .agg(F.array_sort(F.collect_list(F.struct("s", "e")))
                    .alias("iv"),
                    F.count("*").alias("n_spans"),
                    F.sum(F.col("e") - F.col("s")).alias("n_removed")))

    # Python normalizer, NOT the JVM one: the interval offsets came
    # from the Python-side window scan, and JVM lower() is not
    # guaranteed length-identical for non-ASCII (see normalize_py)
    n = normalize_py(docs, text_col, id_col)
    j = n.join(per_doc, "doc_id", "left")

    def step(acc, x):
        return F.struct(
            x["e"].cast("long").alias("pos"),
            F.concat(acc["txt"], F.substr(
                "norm", acc["pos"], x["s"] - acc["pos"])).alias("txt"))

    def finish(acc):
        return F.concat(acc["txt"], F.substr(
            "norm", acc["pos"],
            F.length("norm") - acc["pos"] + F.lit(1)))

    clean = F.when(F.col("iv").isNull(), F.col("norm")).otherwise(
        F.aggregate(
            "iv",
            F.struct(F.lit(1).cast("long").alias("pos"),
                     F.lit("").alias("txt")),
            step, finish))
    return j.select(
        "doc_id",
        clean.alias("clean_text"),
        F.coalesce(F.col("n_spans"), F.lit(0)).cast("long")
        .alias("n_spans"),
        F.coalesce(F.col("n_removed"), F.lit(0)).cast("long")
        .alias("n_removed"))


def minhash_signatures(docs: DataFrame, k: int = 8, n_hashes: int = 12,
                       text_col: str = "text",
                       id_col: str = "doc_id") -> DataFrame:
    """Per-document MinHash signature: (doc_id, mh0..mh{n-1}).

    Each shingle is hashed ONCE with the polynomial hash, then
    ``n_hashes`` affine permutations (A[i]*h + B[i]) mod P simulate
    independent hash functions; the per-doc min of each permutation is
    the signature. The whole signature computes inside ONE
    Arrow-batched scan: shingle hashes come from the vectorized Horner
    scan (:func:`_poly_shingle_hashes` — the explode→substring plan
    pays O(L²) bytes per document) and the affine mins reduce per
    document IN the scan, so each task emits exactly one row per
    document — no shuffle at all. min() is duplicate-insensitive, so
    no per-doc dedup is needed.

    The signature is a pure function of the document text, which is
    what makes it STORABLE: persist it (parquet / snapshot table) and
    later batches dedup against the store via
    :func:`dedup_incremental` without ever re-reading old text."""
    affine = [(MH_A[i], MH_B[i]) for i in range(n_hashes)]
    id_type = docs.schema[id_col].dataType.simpleString()
    n_par = docs.sparkSession.sparkContext.defaultParallelism
    sig_schema = f"doc_id {id_type}, " + ", ".join(
        f"mh{i} long" for i in range(n_hashes))

    def scan(batches):
        import pandas as pd

        for pdf in batches:
            out = {c: [] for c in
                   ["doc_id", *(f"mh{i}" for i in range(n_hashes))]}
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                if text is None:
                    continue
                h = _poly_shingle_hashes(_norm_py(text), k)
                if h.size == 0:
                    continue
                out["doc_id"].append(doc_id)
                for i, (a_c, b_c) in enumerate(affine):
                    out[f"mh{i}"].append(
                        int(((a_c * h + b_c) % MH_P).min()))
            yield pd.DataFrame(out)

    return (docs.select(id_col, text_col)
            .repartition(n_par, id_col)
            .mapInPandas(scan, sig_schema))


def _banded(mh: DataFrame, n_hashes: int, bands: int) -> DataFrame:
    """Signature rows -> (doc_id, band, key) LSH band rows; key
    concatenates the band's minhash values."""
    rows_per_band = n_hashes // bands
    band_cols = []
    for b in range(bands):
        cols = [F.col(f"mh{i}").cast("string")
                for i in range(b * rows_per_band, (b + 1) * rows_per_band)]
        band_cols.append(F.struct(F.lit(b).alias("band"),
                                  F.concat_ws("|", *cols).alias("key")))
    return mh.select(
        "doc_id", F.explode(F.array(*band_cols)).alias("bk")
    ).select("doc_id", F.col("bk.band").alias("band"),
             F.col("bk.key").alias("key"))


def minhash_lsh_pairs(docs: DataFrame, k: int = 8, n_hashes: int = 12,
                      bands: int = 4, text_col: str = "text",
                      id_col: str = "doc_id") -> DataFrame:
    """MinHash + LSH banding candidate pairs.

    Signatures from :func:`minhash_signatures` (one Arrow scan, no
    shuffle); band keys concatenate the band's minhash values;
    candidates share any (band, key). Output: distinct
    (doc_a < doc_b). The oracle runs the identical arithmetic in SQL,
    and there is no md5 on the per-shingle hot path (12x cheaper than
    hashing per permutation). The banding self-join is the operator's
    only shuffle."""
    mh = minhash_signatures(docs, k, n_hashes, text_col, id_col)
    banded = _banded(mh, n_hashes, bands)
    a = banded.select(F.col("doc_id").alias("doc_a"), "band", "key")
    b = banded.select(F.col("doc_id").alias("doc_b"), "band", "key")
    return (a.join(b, ["band", "key"])
            .filter(F.col("doc_a") < F.col("doc_b"))
            .select("doc_a", "doc_b").distinct())


# signature-store layout dedup_incremental assumes: shingle width,
# permutation count and LSH bands (the store holds minhash_signatures'
# default signatures, so the batch must be signed and banded the same way)
STORE_K = 8
STORE_N_HASHES = 12
STORE_BANDS = 4


def dedup_incremental(new_docs: DataFrame, sigs: DataFrame,
                      text_col: str = "text", id_col: str = "doc_id",
                      new_sigs: DataFrame | None = None) -> DataFrame:
    """Incremental MinHash-LSH dedup: flag documents of an ingest
    BATCH that collide with an existing signature STORE (or with an
    earlier-id document of the same batch) — without re-reading or
    re-shuffling the stored corpus.

    ``sigs`` is the persisted output of :func:`minhash_signatures`
    over everything ingested so far (at 10^12-doc scale: a bucketed
    table appended per batch — the batch's own signatures are what
    you append after this call). The batch side is tiny relative to
    the store, so its band rows are BROADCAST against the store's
    band rows: the store never moves.

    Output: one row per flagged new document — (doc_id, dup_of) where
    dup_of is the MINIMUM colliding partner id (stored or earlier
    in-batch), a deterministic canonical drop decision.

    Pass ``new_sigs=`` to reuse already-computed batch signatures
    (e.g. when the caller appends the same signatures to the store
    afterwards)."""
    if new_sigs is None:
        new_sigs = minhash_signatures(new_docs, STORE_K, STORE_N_HASHES,
                                      text_col, id_col)
    nb = _banded(new_sigs, STORE_N_HASHES, STORE_BANDS)
    ob = _banded(sigs, STORE_N_HASHES, STORE_BANDS)
    probe = F.broadcast(nb)
    vs_store = (ob.join(probe.select(F.col("doc_id").alias("new_id"),
                                     "band", "key"),
                        ["band", "key"])
                .select("new_id", F.col("doc_id").alias("partner")))
    older = nb.select(F.col("doc_id").alias("partner"), "band", "key")
    vs_batch = (older.join(probe.select(F.col("doc_id").alias("new_id"),
                                        "band", "key"),
                           ["band", "key"])
                .filter(F.col("partner") < F.col("new_id"))
                .select("new_id", "partner"))
    return (vs_store.unionByName(vs_batch)
            .groupBy("new_id")
            .agg(F.min("partner").alias("dup_of"))
            .select(F.col("new_id").alias("doc_id"), "dup_of"))


SIMHASH_BITS = 32


def simhash_fingerprints(docs: DataFrame, text_col: str = "text",
                         id_col: str = "doc_id") -> DataFrame:
    """Per-document SimHash fingerprint over whitespace tokens: each token
    hashes to SIMHASH_BITS bits (portable polynomial hash); bit i of the
    fingerprint is the sign of the per-doc sum of (+1 / -1) over tokens'
    bit i. Pure explode + conditional-sum aggregation — one shuffle, all
    codegen, identical SQL on the oracle side."""
    n = normalize(docs, text_col, id_col, spread=True) \
        .filter(F.length("norm") > 0)
    toks = n.select("doc_id",
                    F.explode(F.split(F.trim(F.col("norm")), " "))
                    .alias("tok")).filter(F.col("tok") != "")
    # variable-length fold: aggregate over the token's characters
    h = F.aggregate(
        F.split(F.col("tok"), ""),
        F.lit(0).cast("long"),
        lambda acc, c: (acc * F.lit(31) + F.coalesce(F.ascii(c), F.lit(0)))
        % F.lit(MH_P))
    th = toks.select("doc_id", h.alias("h"))
    aggs = [
        F.sum(F.when(F.shiftright(F.col("h"), i) % 2 == 1, 1)
              .otherwise(-1)).alias(f"b{i}")
        for i in range(SIMHASH_BITS)]
    sums = th.groupBy("doc_id").agg(*aggs)
    fp = F.lit(0).cast("long")
    for i in range(SIMHASH_BITS):
        fp = fp + F.when(F.col(f"b{i}") > 0,
                         F.lit(1 << i).cast("long")).otherwise(F.lit(0))
    return sums.select("doc_id", fp.alias("simhash"))


def simhash_sql() -> str:
    """DuckDB twin of :func:`simhash_fingerprints`: CTE chain ending in
    ``simhashes(doc_id, simhash)``, expects a ``norm(doc_id, n)`` CTE."""
    bit_sums = ",\n".join(
        f"    sum(CASE WHEN (h // {1 << i}) % 2 = 1 THEN 1 ELSE -1 END) "
        f"AS b{i}" for i in range(SIMHASH_BITS))
    fp = " + ".join(
        f"CASE WHEN b{i} > 0 THEN CAST({1 << i} AS BIGINT) ELSE 0 END"
        for i in range(SIMHASH_BITS))
    return f"""
toks AS (
  SELECT doc_id, tok FROM (
    SELECT doc_id, unnest(string_split(trim(n), ' ')) AS tok FROM norm
    WHERE length(n) > 0) WHERE tok != ''),
th AS (
  SELECT doc_id,
         list_reduce(list_prepend(CAST(0 AS BIGINT),
             list_transform(string_split(tok, ''),
                            c -> CAST(ascii(c) AS BIGINT))),
             (acc, c) -> (acc * 31 + c) % {MH_P}) AS h
  FROM toks),
bitsums AS (
  SELECT doc_id,
{bit_sums}
  FROM th GROUP BY doc_id),
simhashes AS (
  SELECT doc_id, {fp} AS simhash FROM bitsums)"""


def simhash_neardup_pairs(docs: DataFrame, max_hamming: int = 3,
                          text_col: str = "text",
                          id_col: str = "doc_id") -> DataFrame:
    """SimHash near-duplicate pairs: fingerprints band into 4 bytes; by
    pigeonhole any pair within hamming distance 3 shares at least one
    byte, so candidates come from an equi-join on (band, byte) — never an
    all-pairs comparison — and the exact popcount(xor) verify keeps pairs
    with distance <= ``max_hamming``."""
    fps = simhash_fingerprints(docs, text_col, id_col)
    n_bands = 4
    band_cols = [
        F.struct(F.lit(b).alias("band"),
                 (F.shiftright(F.col("simhash"), b * 8) % 256)
                 .alias("byte"))
        for b in range(n_bands)]
    banded = fps.select(
        "doc_id", "simhash",
        F.explode(F.array(*band_cols)).alias("bk")
    ).select("doc_id", "simhash", F.col("bk.band").alias("band"),
             F.col("bk.byte").alias("byte"))
    a = banded.select(F.col("doc_id").alias("doc_a"),
                      F.col("simhash").alias("sh_a"), "band", "byte")
    b = banded.select(F.col("doc_id").alias("doc_b"),
                      F.col("simhash").alias("sh_b"), "band", "byte")
    pairs = (a.join(b, ["band", "byte"])
             .filter(F.col("doc_a") < F.col("doc_b"))
             .select("doc_a", "doc_b", "sh_a", "sh_b").distinct())
    ham = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (pairs.withColumn("hamming", ham.cast("long"))
            .filter(F.col("hamming") <= max_hamming)
            .select("doc_a", "doc_b", "hamming"))


def token_counts(docs: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id") -> DataFrame:
    """Whitespace token count per document."""
    n = normalize(docs, text_col, id_col).filter(F.length("norm") > 0)
    return n.select(
        "doc_id",
        F.size(F.split(F.trim(F.col("norm")), " ")).cast("long")
        .alias("n_tokens"))


_STOPWORDS = ("the", "a", "and", "of", "to", "in")


def quality_scores(docs: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id") -> DataFrame:
    """Heuristic quality features: length, token count, mean token length,
    stopword ratio, non-alpha ratio (all closed-form column math)."""
    n = normalize(docs, text_col, id_col).filter(F.length("norm") > 0)
    toks = F.size(F.split(F.trim(F.col("norm")), " ")).cast("double")
    nonalpha = (F.length("norm")
                - F.length(F.regexp_replace("norm", r"[^a-z ]", "")))
    stop_hits = None
    for w in _STOPWORDS:
        hits = (
            (F.length(F.concat(F.lit(" "), F.col("norm"), F.lit(" ")))
             - F.length(F.regexp_replace(
                 F.concat(F.lit(" "), F.col("norm"), F.lit(" ")),
                 f" {w} ", " ")))
            / F.lit(len(w) + 1))
        stop_hits = hits if stop_hits is None else stop_hits + hits
    return n.select(
        "doc_id",
        F.length("norm").cast("long").alias("n_chars"),
        toks.cast("long").alias("n_tokens"),
        F.round(F.length("norm") / toks, 6).alias("mean_token_len"),
        F.round(stop_hits / toks, 6).alias("stopword_ratio"),
        F.round(nonalpha / F.length("norm"), 6).alias("nonalpha_ratio"))


# tiny per-language marker lexicons for the n-gram/stopword language guess
_LANG_MARKERS = {
    "en": ("the", "and", "is"),
    "es": ("el", "la", "que"),
    "fr": ("le", "la", "et"),
    "de": ("der", "und", "die"),
}


def lang_id(docs: DataFrame, text_col: str = "text",
            id_col: str = "doc_id") -> DataFrame:
    """Stopword-marker language guess: count marker-word hits per language,
    argmax with deterministic tie-break on language code; 'und'
    (undetermined) when nothing matches."""
    n = normalize(docs, text_col, id_col).filter(F.length("norm") > 0)
    padded = F.concat(F.lit(" "), F.col("norm"), F.lit(" "))
    scores = []
    for lang, words in sorted(_LANG_MARKERS.items()):
        s = None
        for w in words:
            hits = ((F.length(padded)
                     - F.length(F.regexp_replace(padded, f" {w} ", " ")))
                    / F.lit(len(w) + 1))
            s = hits if s is None else s + hits
        scores.append(F.struct(s.cast("long").alias("hits"),
                               F.lit(lang).alias("lang")))
    best = F.array_max(F.array(*scores))
    return n.select(
        "doc_id",
        F.when(best.getField("hits") > 0, best.getField("lang"))
        .otherwise(F.lit("und")).alias("lang_guess"),
        best.getField("hits").cast("long").alias("marker_hits"))


# ---------------------------------------------------------------------------
# deterministic stratified sampling / dataset mixing

SAMPLE_MOD = 10000       # sampling resolution: fractions in basis points
_SAMPLE_ID_W = 12


def sample_key_col(id_col: str = "doc_id"):
    """Deterministic per-document sample key: the portable polynomial hash
    folded over the zero-padded id, then TWO quadratic mixing rounds
    ((x^2 + c) mod P — int64-safe since P < 2^31), reduced mod SAMPLE_MOD.
    The mixing matters: sequential ids land in a narrow affine band of the
    raw polynomial hash, which would skew every threshold; squaring makes
    consecutive ids jump ~2·h apart, uniformizing the low digits. No RNG —
    membership is a pure function of the id, so a re-run (or another
    engine) selects exactly the same documents, and sampling a filtered
    table yields exactly the intersection."""
    padded = F.lpad(F.col(id_col).cast("string"), _SAMPLE_ID_W, "0")
    h = shingle_hash_col(padded, _SAMPLE_ID_W)
    h = (h * h + F.lit(7919)) % F.lit(MH_P)
    h = (h * h + F.lit(104729)) % F.lit(MH_P)
    return F.pmod(h, F.lit(SAMPLE_MOD))


def sample_key_sql(id_col: str = "doc_id") -> str:
    h = shingle_hash_sql(f"lpad(CAST({id_col} AS VARCHAR), "
                         f"{_SAMPLE_ID_W}, '0')", _SAMPLE_ID_W)
    h = f"((({h}) * ({h}) + 7919) % {MH_P})"
    h = f"((({h}) * ({h}) + 104729) % {MH_P})"
    return f"(({h}) % {SAMPLE_MOD})"


def stratified_sample(docs: DataFrame, fractions_bp: dict,
                      bucket_tokens: int = 25, text_col: str = "text",
                      id_col: str = "doc_id") -> DataFrame:
    """Stratified downsampling / dataset mixing: documents are bucketed by
    token-length stratum (bucket = min(n_tokens // bucket_tokens, max
    bucket)) and stratum b keeps ``fractions_bp[b]`` basis points of its
    documents by hash threshold — the standard curation move (rebalance
    strata, thin the long tail) made exactly reproducible and
    engine-portable. Pure column math end to end: one filtered scan, no
    shuffle, no RNG state."""
    max_b = max(fractions_bp)
    n = normalize(docs, text_col, id_col).filter(F.length("norm") > 0)
    toks = F.size(F.split(F.trim(F.col("norm")), " "))
    bucket = F.least(F.floor(toks / F.lit(bucket_tokens)),
                     F.lit(max_b)).cast("long")
    sel = n.select("doc_id", bucket.alias("bucket"),
                   sample_key_col("doc_id").alias("sample_key"))
    thr = F.lit(None).cast("long")
    for b in sorted(fractions_bp):
        thr = F.when(F.col("bucket") == b,
                     F.lit(int(fractions_bp[b]))).otherwise(thr)
    return sel.filter(F.col("sample_key") < thr)


# BM25's term-frequency saturation and document-length normalisation
BM25_K1 = 1.2
BM25_B = 0.75


def bm25_scores(docs: DataFrame, terms, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """BM25 relevance of every document against a fixed query-term list —
    the classic retrieval/quality score a curation pipeline ranks with.
    One pass computes per-doc term frequencies and length (pure columns);
    the corpus statistics (N, avgdl, per-term document frequency) are ONE
    aggregate row broadcast back onto the docs (scalar-subquery shape), so
    the whole operator is a scan + one tiny aggregate + codegen math —
    no UDF, no per-term join."""
    n = normalize(docs, text_col, id_col).filter(F.length("norm") > 0)
    toks = F.split(F.trim(F.col("norm")), " ")

    def tf_of(term):
        # NB: a single-arg lambda; a (w, t=term) default would make pyspark
        # treat it as the two-arg (value, index) form and bind the INDEX
        return F.size(F.filter(toks, lambda w: w == F.lit(term)))

    d = n.select("doc_id", F.size(toks).alias("dl"),
                 *[tf_of(t).alias(f"tf_{i}")
                   for i, t in enumerate(terms)])
    g = d.agg(F.count("*").alias("n_docs"),
              F.avg("dl").alias("avgdl"),
              *[F.sum((F.col(f"tf_{i}") > 0).cast("long"))
                .alias(f"df_{i}") for i in range(len(terms))])
    j = d.crossJoin(F.broadcast(g))
    score = F.lit(0.0)
    for i in range(len(terms)):
        tf = F.col(f"tf_{i}").cast("double")
        df = F.col(f"df_{i}").cast("double")
        idf = F.log(F.lit(1.0) + (F.col("n_docs") - df + F.lit(0.5))
                    / (df + F.lit(0.5)))
        denom = tf + F.lit(BM25_K1) * (
            F.lit(1.0 - BM25_B) + F.lit(BM25_B) * F.col("dl") / F.col("avgdl"))
        score = score + idf * tf * F.lit(BM25_K1 + 1.0) / denom
    return j.select("doc_id", "dl", score.alias("bm25"))


def dedup_clusters(docs: DataFrame, pairs: DataFrame,
                   id_col: str = "doc_id", a_col: str = "doc_a",
                   b_col: str = "doc_b", max_rounds: int = 20,
                   stats: dict | None = None) -> DataFrame:
    """Connected components over near-duplicate pairs — the dedup
    family's final step: banding (MinHash/SimHash) yields PAIRS, but the
    keep/drop decision needs CLUSTERS (duplicate groups are transitive
    chains, not cliques). Every document gets ``cluster_id`` = the MIN
    id in its component and ``is_canonical`` marks the single survivor
    per cluster, so the dedup filter is one boolean column.

    Same Spark-first shape as the polygonize component labelling
    (raster.polygonize_components): iterative min-label propagation with
    star contraction + pointer-jumping compression, a stats-resetting
    checkpoint per step (constant plan depth — the lineage never grows),
    convergence in ~log(component diameter) rounds; each round is two
    equi-joins + two aggregates + ≤16 |V|-row compression hops, never a
    driver-side graph. The star step (each node's OLD label tree learns
    its members' best newly-discovered min through one groupBy + join)
    is what makes the round count logarithmic: edge-hop propagation
    alone moves the min O(1) edges per round however hard the label
    forest is flattened, and a 47-link template-family near-dup chain
    at 50k docs needed >20 such rounds; with the star step the same
    corpus converges in 6.

    Skew note (the 100-TB reality: one boilerplate mega-component):
    per-round shuffle volume is STRUCTURALLY bounded at 2|E| join rows
    + |V| label rows regardless of component shape — the propagation
    join carries each (directed) edge exactly once per round and the
    min-aggregate combines map-side, so a hub holding 90% of edges
    concentrates one join key but can never multiply rows; AQE's skew
    split handles the task imbalance. ``stats`` (optional dict) gets
    {"rounds": n, "edge_rows": 2|E|} for probes/monitoring.

    Checkpoints go through session.local_checkpoint_fresh: a plain
    localCheckpoint keeps the truncated plan's Catalyst size estimate,
    which the per-round self-joins square until the driver stalls in
    BigInteger math (see that helper's docstring for the measurements)."""
    from .session import local_checkpoint_fresh

    spark = docs.sparkSession  # noqa: F841  (parallelism via inputs)
    nodes = docs.select(F.col(id_col).alias("nid")).distinct() \
        .localCheckpoint(eager=True)
    half = pairs.select(F.col(a_col).alias("u"),
                        F.col(b_col).alias("v_"))
    edges = half.unionByName(
        half.select(F.col("v_").alias("u"), F.col("u").alias("v_"))) \
        .distinct().localCheckpoint(eager=True)
    labels = nodes.select("nid", F.col("nid").alias("label"))
    if stats is not None:
        stats["edge_rows"] = edges.count()
        stats["rounds"] = 0
    for _ in range(max_rounds):
        if stats is not None:
            stats["rounds"] += 1
        nb = (edges.join(labels.select(F.col("nid").alias("v_"),
                                       F.col("label").alias("nb_label")),
                         "v_")
              .groupBy("u").agg(F.min("nb_label").alias("nb_min")))
        stepped = local_checkpoint_fresh(
            labels.select("nid", F.col("label").alias("old"))
            .join(nb, F.col("nid") == nb.u, "left")
            .select("nid", "old",
                    F.least("old", F.coalesce("nb_min", "old"))
                    .alias("label")))
        # star contraction: broadcast each old tree's best new min to
        # all its members (one |V|-row aggregate + join)
        treemin = stepped.groupBy("old").agg(F.min("label").alias("tm"))
        stepped = local_checkpoint_fresh(
            stepped.join(treemin, "old")
            .select("nid", F.least("label", "tm").alias("label")))
        # Pointer jumping: flatten the label forest to its roots before
        # the next edge round. Each hop replaces label with
        # label-of-label, halving tree height, so a diameter-d chain
        # collapses in O(log d) hops — without the loop a single
        # compression hop leaves the outer loop O(d) (a 47-link
        # template-family chain blew the 20-round cap at 50k docs).
        # The hop join is on |V| label rows only, never edges.
        for _ in range(16):
            compressed = local_checkpoint_fresh(
                stepped.alias("s")
                .join(stepped.select(F.col("nid").alias("label"),
                                     F.col("label").alias("ll"))
                      .alias("t"), "label", "left")
                .select("nid",
                        F.least("label", F.coalesce("ll", "label"))
                        .alias("label")))
            hop_changed = (compressed.alias("n")
                           .join(stepped.alias("o"), "nid")
                           .filter(F.col("n.label") != F.col("o.label"))
                           .limit(1).count())
            stepped = compressed
            if hop_changed == 0:
                break
        changed = (stepped.alias("n")
                   .join(labels.alias("o"), "nid")
                   .filter(F.col("n.label") != F.col("o.label")).limit(1)
                   .count())
        labels = stepped
        if changed == 0:
            break
    return labels.select(
        F.col("nid").alias(id_col), F.col("label").alias("cluster_id"),
        (F.col("nid") == F.col("label")).alias("is_canonical"))


PACKED_SCHEMA = ("shard INT, doc_id LONG, n_tokens LONG, "
                 "seq_idx LONG, offset_tokens LONG")


def pack_sequences(docs: DataFrame, budget_tokens: int,
                   n_shards: int = 16, text_col: str = "text",
                   id_col: str = "doc_id") -> DataFrame:
    """Pack documents into fixed-token-budget training sequences —
    the step between a cleaned corpus and a pretraining dataloader.
    Deterministic next-fit per shard: documents are sharded by
    ``doc_id % n_shards`` and walked in doc_id order; a document joins
    the current sequence when it fits, else opens the next one (an
    oversized document gets a sequence of its own). Output: one row per
    document with (shard, seq_idx, offset_tokens).

    Next-fit is inherently sequential, but only WITHIN a shard — the
    shard count is the parallelism knob (at 100 TB: thousands of
    shards, each a bounded grouped-map), and determinism means re-runs
    and resumes produce identical packings with no RNG state."""
    toks = token_counts(docs, text_col, id_col).select(
        F.col(id_col).cast("long").alias("doc_id"), "n_tokens")
    sharded = toks.withColumn(
        "shard", (F.col("doc_id") % n_shards).cast("int"))
    budget = int(budget_tokens)

    def pack(key, pdf):
        import numpy as np
        import pandas as pd

        pdf = pdf.sort_values("doc_id").reset_index(drop=True)
        seqs = np.zeros(len(pdf), dtype=np.int64)
        offs = np.zeros(len(pdf), dtype=np.int64)
        seq, used = 0, 0
        for i, nt in enumerate(pdf.n_tokens.astype(int)):
            if i > 0 and used + nt > budget:
                seq += 1
                used = 0
            seqs[i] = seq
            offs[i] = used
            used += nt
        return pd.DataFrame({
            "shard": pdf.shard, "doc_id": pdf.doc_id,
            "n_tokens": pdf.n_tokens, "seq_idx": seqs,
            "offset_tokens": offs})

    return sharded.groupBy("shard").applyInPandas(pack,
                                                  schema=PACKED_SCHEMA)


def _shingle_hash_mults(k: int):
    """Fixed odd uint64 multipliers for the vectorized shingle hash
    (position-weighted dot product mod 2^64, natural wraparound)."""
    import numpy as np

    m = np.empty(k, dtype=np.uint64)
    x = np.uint64(0x9E3779B97F4A7C15)        # golden-ratio odd constant
    with np.errstate(over="ignore"):         # uint64 wraparound intended
        for j in range(k):
            m[j] = x | np.uint64(1)
            x = x * np.uint64(0xBF58476D1CE4E5B9) + np.uint64(j * 2 + 1)
    return m


def _shingle_hashes(norm: str, k: int, mults):
    """All k-char-window hashes of an (already normalized) string as a
    uint64 array — k multiply-add passes over the code-point array,
    O(k·L) time and O(L) TRANSIENT memory (an earlier
    sliding_window_view formulation materialized the full L×k uint64
    window matrix: ~128 MB of copies per MB of document, an executor
    OOM risk on the large-document tail)."""
    import numpy as np

    cps = np.frombuffer(norm.encode("utf-32-le"), dtype=np.uint32) \
        .astype(np.uint64)
    n = cps.size - k + 1
    if n <= 0:
        return np.empty(0, dtype=np.uint64)
    with np.errstate(over="ignore"):          # uint64 wraparound intended
        h = cps[:n] * mults[0]
        for j in range(1, k):
            h += cps[j:j + n] * mults[j]
    return h


def decontaminate_flags(docs: DataFrame, benchmark: DataFrame,
                        k: int = 8, min_hits: int = 1,
                        text_col: str = "text",
                        id_col: str = "doc_id") -> DataFrame:
    """Benchmark decontamination: flag every training document sharing
    >= ``min_hits`` distinct character k-gram shingles with ANY
    benchmark text — the standard eval-leakage sweep before
    pretraining. Documents too short to shingle report 0 hits.

    Shape: the benchmark shingle-hash set is small by construction
    (benchmarks are), so it ships to every task inside an Arrow-batched
    ``mapInPandas`` closure and the corpus is scanned ONCE — each task
    emits exactly one (doc_id, n_hit_shingles) row per document, so
    nothing shuffles at all. This deliberately leaves whole-stage
    codegen: the pure-column formulation (explode positions →
    ``substring`` → broadcast join) pays O(position) per ``substring``
    because UTF8String addressing walks from the string head, i.e.
    O(L²) bytes per document — measured 59 s for 50k × 2 kB docs vs
    ~4 s for this numpy rolling-window scan (sliding_window_view over
    the utf-32 code points, one fused multiply-add per window,
    searchsorted against the benchmark set). Hit shingles are counted
    distinct-by-64-bit-hash; a cross-shingle collision inside one
    document's hit set (probability ~2^-64 per pair) is the only
    divergence from exact string semantics.

    Normalization matches :func:`normalize` (lower + whitespace
    collapse) for ASCII text; both engines' ``lower`` agree there."""
    import numpy as np

    mults = _shingle_hash_mults(k)
    bench_rows = benchmark.select(F.col(text_col)).collect()
    bench_hashes = [_shingle_hashes(_norm_py(r[0]), k, mults)
                    for r in bench_rows if r[0] is not None]
    bench_set = np.unique(np.concatenate(bench_hashes)) if bench_hashes \
        else np.empty(0, dtype=np.uint64)
    id_type = docs.schema[id_col].dataType.simpleString()
    n_par = docs.sparkSession.sparkContext.defaultParallelism

    def scan(batches):
        import pandas as pd

        for pdf in batches:
            counts = []
            for text in pdf[text_col]:
                if text is None:
                    counts.append(0)
                    continue
                h = _shingle_hashes(_norm_py(text), k, mults)
                if h.size == 0 or bench_set.size == 0:
                    counts.append(0)
                    continue
                idx = np.searchsorted(bench_set, h)
                idx[idx == bench_set.size] = 0
                counts.append(int(np.unique(h[bench_set[idx] == h]).size))
            yield pd.DataFrame({"doc_id": pdf[id_col],
                                "n_hit_shingles": counts})

    out = (docs.select(id_col, text_col)
           .repartition(n_par, id_col)
           .mapInPandas(scan,
                        f"doc_id {id_type}, n_hit_shingles long"))
    return out.withColumn("contaminated",
                          F.col("n_hit_shingles") >= min_hits)


def chunk_documents(docs: DataFrame, chunk_tokens: int,
                    overlap_tokens: int = 0, text_col: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """Split documents into overlapping fixed-token windows (the RAG /
    context-window chunking step) as PURE column operations: tokenize
    with split, chunk count and boundaries with sequence + explode,
    chunk text with slice + array_join — no UDF anywhere, the whole
    operator stays in codegen. Chunk i covers tokens
    [i*stride, i*stride+chunk_tokens) with stride =
    chunk_tokens - overlap_tokens; the final chunk may be shorter and
    a document shorter than one chunk yields exactly one chunk."""
    if not 0 <= overlap_tokens < chunk_tokens:
        raise ValueError("need 0 <= overlap_tokens < chunk_tokens")
    stride = chunk_tokens - overlap_tokens
    n = normalize(docs, text_col, id_col).filter(F.length("norm") > 0)
    t = n.select(
        "doc_id", F.split(F.trim(F.col("norm")), " ").alias("toks"))
    t = t.withColumn("n_tok", F.size("toks")).withColumn(
        "n_chunks",
        (F.lit(1) + F.greatest(
            F.lit(0),
            F.ceil((F.col("n_tok") - chunk_tokens) / F.lit(stride))))
        .cast("int"))
    out = t.select(
        "doc_id", "toks", "n_tok",
        F.explode(F.sequence(F.lit(0),
                             F.col("n_chunks") - 1)).alias("chunk_idx"))
    start = F.col("chunk_idx") * stride
    length = F.least(F.lit(chunk_tokens), F.col("n_tok") - start)
    return out.select(
        F.col("doc_id"),
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        length.cast("long").alias("n_tokens"),
        F.array_join(F.slice("toks", start + 1, length), " ")
        .alias("chunk_text"))


def upsample_repeats(docs: DataFrame, factor_bp: int,
                     id_col: str = "doc_id") -> DataFrame:
    """Deterministic fractional upsampling — the pretraining mixing
    move "repeat this source 2.3 epochs": every document appears
    ``factor_bp // 10000`` times, plus one more copy for the
    hash-selected ``factor_bp % 10000`` basis-point fraction (the same
    portable sample key as stratified_sample, so re-runs and other
    engines replicate the exact copy set). Output one row per copy with
    ``copy_idx``; factors below 1.0 downsample (documents with zero
    copies drop). No RNG, no shuffle — explode over a per-row count."""
    whole = int(factor_bp) // SAMPLE_MOD
    frac = int(factor_bp) % SAMPLE_MOD
    n_copies = (F.lit(whole)
                + (sample_key_col(id_col) < frac).cast("int"))
    sel = docs.select(F.col(id_col).alias("doc_id"),
                      n_copies.alias("n_copies")) \
        .filter(F.col("n_copies") > 0)     # sequence() descends if end<start
    return sel.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.col("n_copies") - 1))
        .alias("copy_idx")) \
        .select("doc_id", F.col("copy_idx").cast("long").alias("copy_idx"))


def take_token_budget(docs: DataFrame, budget_tokens: int,
                      text_col: str = "text",
                      id_col: str = "doc_id",
                      shards: int | None = None) -> DataFrame:
    """Curation under a token budget: rank documents (longest first,
    doc_id tiebreak — substitute any score by pre-sorting) and keep
    every document whose PRECEDING cumulative token count is still
    under the budget, so the cut is deterministic and the first
    over-budget document is included (the budget is a floor, not a
    ceiling, matching "fill B tokens" semantics).

    Distributed exact prefix-sum — no single-partition window: the
    (doc_id, n_tokens) set is range-partitioned on the ordering key
    (n_tokens desc, doc_id), so every key in shard *i* globally
    precedes every key in shard *i+1*. Pass 1 aggregates one
    ``sum(n_tokens)`` per shard (``shards`` rows — driver-tiny at any
    corpus size); the driver prefix-sums those totals into per-shard
    offsets and discards shards whose offset already exceeds the
    budget. Pass 2 runs the cumulative window PARTITIONED by shard
    (offset + within-shard cumsum == exact global cumsum) over only
    the surviving prefix shards. The ranged frame is localCheckpointed
    so both passes see the identical partitioning (spark_partition_id
    is only meaningful against one materialization). The DuckDB oracle
    keeps the equivalent single-window formulation (oracle SQL runs on
    small gate data; the production plan must not)."""
    from pyspark.sql import Window

    toks = token_counts(docs, text_col, id_col).select(
        F.col("doc_id"), "n_tokens")
    spark = docs.sparkSession
    n_shards = shards or spark.sparkContext.defaultParallelism
    ranged = toks.repartitionByRange(
        n_shards, F.col("n_tokens").desc(), F.col("doc_id")) \
        .withColumn("_shard", F.spark_partition_id()) \
        .localCheckpoint()
    totals = {int(r["_shard"]): int(r["tot"]) for r in
              ranged.groupBy("_shard")
              .agg(F.sum("n_tokens").alias("tot")).collect()}
    offsets, acc = {}, 0
    for pid in sorted(totals):
        offsets[pid] = acc
        acc += totals[pid]
    keep = [pid for pid in offsets if offsets[pid] < budget_tokens]
    if not keep:
        return ranged.limit(0).select("doc_id", "n_tokens",
                                      F.lit(0).cast("long")
                                      .alias("cum_before"))
    off_map = F.create_map(*[F.lit(v) for pid in keep
                             for v in (pid, offsets[pid])])
    w = Window.partitionBy("_shard").orderBy(
        F.col("n_tokens").desc(), F.col("doc_id"))
    ranked = ranged.filter(F.col("_shard").isin(keep)).withColumn(
        "cum_before",
        off_map[F.col("_shard")]
        + F.coalesce(F.sum("n_tokens").over(
            w.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0).cast("long")))
    return ranked.filter(F.col("cum_before") < budget_tokens) \
        .select("doc_id", "n_tokens", "cum_before")
