"""Round-11 additions not yet regrouped by family: IVF assignment
ties, the stdlib PNG decoder, fact-bucket sizing, the no-row-UDF
package scan, z-order maintenance crash recovery, phrase joins and
the shingle-spread estimate. The capped/shed MinHash-LSH fixture
facts live in ``tests/test_dedup_lsh.py``."""

import pytest
from pyspark.sql import functions as F


def test_nearest_ids_tie_contract():
    """The vectorized IVF assignment (VERDICT r8 #2) must keep the
    exact (distance, center id) ordering contract of the expression
    fold it replaced — including duplicate-centroid ties straddling
    the argpartition cut, where the audit falls back to a full stable
    sort."""
    import numpy as np

    from pydin_spark.operators.similarity import _nearest_ids

    # plain case: distinct distances
    d = np.array([[3.0, 1.0, 2.0, 0.5, 4.0]])
    assert _nearest_ids(d, 1).tolist() == [[3]]
    assert _nearest_ids(d, 2).tolist() == [[3, 1]]
    # ties broken by center id ascending
    d = np.array([[2.0, 1.0, 1.0, 1.0, 5.0]])
    assert _nearest_ids(d, 2).tolist() == [[1, 2]]
    assert _nearest_ids(d, 1).tolist() == [[1]]
    # adversarial: MANY duplicate distances so equal values straddle
    # any 2n partition cut — compare against the reference full sort
    rng = np.random.RandomState(7)
    d = rng.randint(0, 3, size=(50, 40)).astype(np.float64)
    for n in (1, 2, 3, 5):
        ref = np.argsort(d, axis=1, kind="stable")[:, :n]
        got = _nearest_ids(d, n)
        assert got.tolist() == ref.tolist(), n


def _encode_png(pixels, filters):
    """Minimal test-side PNG writer: 8-bit, non-interlaced, one
    explicit filter byte per row (the inverse transforms of the
    decoder's §9 reconstruction, computed independently here so a
    roundtrip failure points at whichever side is wrong)."""
    import struct
    import zlib

    import numpy as np

    px = np.asarray(pixels, dtype=np.uint8)
    h, w = px.shape[:2]
    ch = 1 if px.ndim == 2 else px.shape[2]
    ctype = {1: 0, 2: 4, 3: 2, 4: 6}[ch]
    flat = px.reshape(h, w * ch).astype(np.int32)
    raw = bytearray()
    prev = np.zeros(w * ch, dtype=np.int32)
    for y in range(h):
        f = filters[y % len(filters)]
        cur = flat[y]
        if f == 0:
            enc = cur
        elif f == 1:   # Sub
            left = np.concatenate([np.zeros(ch, np.int32), cur[:-ch]])
            enc = (cur - left) & 0xFF
        elif f == 2:   # Up
            enc = (cur - prev) & 0xFF
        elif f == 3:   # Average
            left = np.concatenate([np.zeros(ch, np.int32), cur[:-ch]])
            enc = (cur - (left + prev) // 2) & 0xFF
        else:          # Paeth
            left = np.concatenate([np.zeros(ch, np.int32), cur[:-ch]])
            ul = np.concatenate([np.zeros(ch, np.int32), prev[:-ch]])
            p = left + prev - ul
            pa, pb, pc = (np.abs(p - left), np.abs(p - prev),
                          np.abs(p - ul))
            pred = np.where((pa <= pb) & (pa <= pc), left,
                            np.where(pb <= pc, prev, ul))
            enc = (cur - pred) & 0xFF
        raw.append(f)
        raw.extend(enc.astype(np.uint8).tobytes())
        prev = cur

    def chunk(typ, data):
        return (struct.pack(">I", len(data)) + typ + data
                + struct.pack(">I", zlib.crc32(typ + data)))

    return (b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, ctype,
                                         0, 0, 0))
            + chunk(b"IDAT", zlib.compress(bytes(raw)))
            + chunk(b"IEND", b""))


def test_stdlib_png_decode_roundtrip_all_filters():
    """The in-container REAL image decode (VERDICT r8 #8): random
    grayscale and RGBA pixels roundtrip through the stdlib PNG codec
    under every filter type, byte-exact."""
    import numpy as np

    from pydin_spark.operators.multimodal import _decode_png

    rng = np.random.RandomState(3)
    gray = rng.randint(0, 256, size=(13, 17), dtype=np.uint8)
    assert (_decode_png(_encode_png(gray, [0, 1, 2, 3, 4])
                        ) == gray).all()
    rgba = rng.randint(0, 256, size=(9, 7, 4), dtype=np.uint8)
    assert (_decode_png(_encode_png(rgba, [4, 3, 2, 1, 0])
                        ) == rgba).all()


def test_extract_features_real_decode_on_png(spark):
    """fake=False with NO injected decoder and NO PIL: baseline PNGs
    decode through the stdlib codec inside the Arrow stage and the
    features are the true per-chunk pixel means."""
    import numpy as np

    from pydin_spark.operators import multimodal

    rng = np.random.RandomState(5)
    px = rng.randint(0, 256, size=(16, 16), dtype=np.uint8)
    payload = _encode_png(px, [0, 1, 2, 3, 4])
    assets = spark.createDataFrame(
        [(1, "image", bytearray(payload), None)],
        multimodal.ASSET_SCHEMA)
    row = multimodal.extract_features(assets, dim=4,
                                      fake=False).first()
    expect = [float(c.mean()) for c in
              np.array_split(px.ravel().astype(np.float64), 4)]
    assert row["n_bytes"] == len(payload)
    assert row["feature"] == pytest.approx(expect)

    resized = multimodal.resize_images(assets, width=8, height=8,
                                       fake=False).first()
    # recompute the operator's nearest-neighbor index math independently
    ri = (np.arange(8) * px.shape[0]) // 8
    ci = (np.arange(8) * px.shape[1]) // 8
    assert bytes(resized["payload"]) \
        == px[np.ix_(ri, ci)].astype(np.uint8).tobytes()
    assert resized["meta"]["width"] == 8


def test_fact_bucket_count_sizing(spark):
    """VERDICT r8 #6: the co-bucketed fact staging derives ONE shared
    power-of-two bucket count from the larger table's bytes — floored
    at session parallelism (small fixtures never under-fill), capped
    at 4096 (100 TB never mints millions of buckets), ~256 MB per
    bucket in between."""
    import math

    import __spark_entry__ as em

    par = spark.sparkContext.defaultParallelism
    n = em._fact_bucket_count(spark, "/root/testdata/sf0.001")
    assert n == par  # tiny fixture → parallelism floor
    # the sizing curve itself, independent of the fixture
    for total, expect in ((int(1e9), max(par, 4)),
                          (int(100e12), 4096)):
        need = max(1, math.ceil(total / (256 * 1024 * 1024)))
        val = min(4096, max(par, 2 ** math.ceil(math.log2(need))))
        assert val == expect, (total, val)
    # both staged tables share the count (exchange-free precondition)
    em._views(spark, "/root/testdata/sf0.001")
    li, od = em._staged_fact_buckets(spark, "/root/testdata/sf0.001")
    assert li.buckets == od.buckets == n


def test_no_row_python_udf_in_package():
    """VERDICT r8 #7: pyspark.sql.functions.udf (row-at-a-time
    Python) must not appear anywhere in the package — Arrow-batched
    pandas_udf / mapInPandas are the only Python execution paths."""
    import pathlib

    root = pathlib.Path(__file__).resolve().parent.parent / "pydin_spark"
    hits = []
    for p in root.rglob("*.py"):
        text = p.read_text()
        for i, line in enumerate(text.splitlines(), 1):
            if ("F.udf(" in line or "functions.udf(" in line) \
                    and "pandas_udf" not in line:
                hits.append(f"{p.name}:{i}")
    assert not hits, hits


def _layout_then_fragment(spark, tmp_path):
    """A clean 8-file Z-layout over (x, y), then two appended files
    covering the whole key space — the append pattern that degrades
    clustering locally."""
    from pydin_spark.functions import maintenance as M

    path = str(tmp_path / "zds")
    base = spark.range(4096).select(
        (F.col("id") % 64).alias("x"), (F.col("id") / 64)
        .cast("long").alias("y"), F.col("id").alias("payload"))
    M.zorder_write(base, path, ["x", "y"], n_files=8)
    extra = spark.range(4096, 4608).select(
        (F.col("id") % 64).alias("x"), ((F.col("id") - 4096) / 8)
        .cast("long").alias("y"), F.col("id").alias("payload"))
    extra.coalesce(2).write.mode("append").parquet(path)
    spark.catalog.refreshByPath(path)
    return path, M


def test_zorder_maintain_reclusters_only_fragmented(spark, tmp_path):
    """ROADMAP 29b: appended files overlap the whole key space; after
    zorder_maintain the layout is overlap-free again, every row
    survives exactly once, and a healthy layout is NOT rewritten."""
    path, M = _layout_then_fragment(spark, tmp_path)
    before = sorted(
        map(tuple, spark.read.parquet(path).collect()))
    frag = M.zorder_fragmentation(spark, path, ["x", "y"])
    assert max(d["overlaps"] for d in frag) > 0  # degraded
    out = M.zorder_maintain(spark, path, ["x", "y"],
                            target_file_bytes=1 << 16)
    assert out["clusters_rewritten"] >= 1
    spark.catalog.refreshByPath(path)
    after = sorted(map(tuple, spark.read.parquet(path).collect()))
    assert after == before                        # nothing lost/duped
    frag2 = M.zorder_fragmentation(spark, path, ["x", "y"])
    assert max(d["overlaps"] for d in frag2) == 0  # disjoint again
    # idempotent: a healthy layout is skipped, zero IO
    assert "skipped" in M.zorder_maintain(spark, path, ["x", "y"])


def test_zorder_maintain_crash_recovery(spark, tmp_path):
    """A staging tree left by a crashed prior run is restored (moved
    files return from __moved__, partial rewrites drop) before the
    new run starts — no row lost, no duplicate."""
    path, M = _layout_then_fragment(spark, tmp_path)
    before = sorted(map(tuple, spark.read.parquet(path).collect()))
    from pydin_spark import fs
    staging = path + ".__zorder__"
    fs.mkdirs(spark, f"{staging}/__moved__")
    # simulate: one untouched file was moved, one rewrite half-built
    name = next(n for n in fs.listdir(spark, path)
                if n.endswith(".parquet"))
    fs.rename(spark, f"{path}/{name}", f"{staging}/__moved__/{name}")
    spark.range(5).write.parquet(f"{staging}/__rewrite_0")
    out = M.zorder_maintain(spark, path, ["x", "y"],
                            target_file_bytes=1 << 16)
    assert "skipped" in out or out["clusters_rewritten"] >= 1
    spark.catalog.refreshByPath(path)
    after = sorted(map(tuple, spark.read.parquet(path).collect()))
    assert after == before
    assert not fs.exists(spark, staging)


def test_zorder_maintain_crash_after_finished_rewrite(spark, tmp_path,
                                                      monkeypatch):
    """ADVICE r9 (high): kill the REAL run after every cluster's
    rewrite outputs have landed in the staging root (z{ci}_* files)
    and the moves are done, but before the swap. The originals are
    all still live; recovery must restore ONLY the __moved__
    singletons and drop the finished rewrite outputs — the old
    recovery renamed those outputs into live next to their source
    files, duplicating every rewritten row."""
    path, M = _layout_then_fragment(spark, tmp_path)
    before = sorted(map(tuple, spark.read.parquet(path).collect()))
    from pydin_spark import fs

    real_replace = fs.replace_dir

    def boom(*a, **k):
        raise RuntimeError("simulated crash before swap")

    monkeypatch.setattr(M.fs, "replace_dir", boom)
    with pytest.raises(RuntimeError, match="simulated crash"):
        M.zorder_maintain(spark, path, ["x", "y"],
                          target_file_bytes=1 << 16)
    staging = path + ".__zorder__"
    assert fs.exists(spark, staging)
    # the dangerous state: finished z{ci}_* outputs sit in the
    # staging ROOT while their source files are still live
    root_names = fs.listdir(spark, staging)
    assert any(n.startswith("z") and n.endswith(".parquet")
               for n in root_names)
    monkeypatch.setattr(M.fs, "replace_dir", real_replace)
    out = M.zorder_maintain(spark, path, ["x", "y"],
                            target_file_bytes=1 << 16)
    assert out["clusters_rewritten"] >= 1
    spark.catalog.refreshByPath(path)
    after = sorted(map(tuple, spark.read.parquet(path).collect()))
    assert after == before          # no duplicate, no loss
    assert not fs.exists(spark, staging)


def test_zorder_maintain_crash_inside_swap(spark, tmp_path,
                                           monkeypatch):
    """ADVICE r9 (medium): a crash inside replace_dir after live was
    renamed to .__old__ leaves the dataset path ABSENT; the next
    maintain run must heal the backup back into place before its
    recovery renames, instead of wedging on a missing parent."""
    path, M = _layout_then_fragment(spark, tmp_path)
    before = sorted(map(tuple, spark.read.parquet(path).collect()))
    from pydin_spark import fs

    def crash_mid_swap(spark_, staging_, live_, **k):
        # replay replace_dir's first rename, then die
        fs.rename(spark_, live_, live_.rstrip("/") + ".__old__")
        raise RuntimeError("simulated crash mid-swap")

    real_replace = fs.replace_dir
    monkeypatch.setattr(M.fs, "replace_dir", crash_mid_swap)
    with pytest.raises(RuntimeError, match="mid-swap"):
        M.zorder_maintain(spark, path, ["x", "y"],
                          target_file_bytes=1 << 16)
    assert not fs.exists(spark, path)           # dataset gone
    assert fs.exists(spark, path + ".__old__")  # backup holds it
    monkeypatch.setattr(M.fs, "replace_dir", real_replace)
    out = M.zorder_maintain(spark, path, ["x", "y"],
                            target_file_bytes=1 << 16)
    assert out["clusters_rewritten"] >= 1
    spark.catalog.refreshByPath(path)
    after = sorted(map(tuple, spark.read.parquet(path).collect()))
    assert after == before
    assert not fs.exists(spark, path + ".__zorder__")


def test_zorder_maintain_crash_before_flatten(spark, tmp_path):
    """A completed swap whose post-swap __moved__ flatten never ran
    (live root still holds the __moved__ subdir) is finished by the
    next run's recovery — the singleton rows come back."""
    path, M = _layout_then_fragment(spark, tmp_path)
    before = sorted(map(tuple, spark.read.parquet(path).collect()))
    from pydin_spark import fs
    # simulate the post-swap state: pick a live file and tuck it
    # under __moved__ exactly as an unflattened swap leaves it
    name = next(n for n in fs.listdir(spark, path)
                if n.endswith(".parquet"))
    fs.mkdirs(spark, f"{path}/__moved__")
    fs.rename(spark, f"{path}/{name}", f"{path}/__moved__/{name}")
    spark.catalog.refreshByPath(path)
    M.zorder_maintain(spark, path, ["x", "y"],
                      target_file_bytes=1 << 16)
    spark.catalog.refreshByPath(path)
    after = sorted(map(tuple, spark.read.parquet(path).collect()))
    assert after == before
    assert not fs.exists(spark, f"{path}/__moved__")


def test_phrase_join_two_pass_and_order(spark):
    """word2phrase compounding semantics: adjacent repeats all join
    (the two-pass property), phrases apply in rank order (an earlier
    phrase consumes the tokens a later one would have matched)."""
    from pydin_spark.operators import text as T

    df = spark.createDataFrame(
        [(1, "a b a b a b"), (2, "x a b c y"), (3, "nomatch here")],
        "doc_id long, text string")
    out = {r["doc_id"]: r["phrased"]
           for r in T.phrase_join(df, ["a b", "b c"]).collect()}
    assert out[1] == "a_b a_b a_b"     # both passes needed
    assert out[2] == "x a_b c y"       # 'a b' won; 'b c' finds nothing
    assert out[3] == "nomatch here"
    out2 = {r["doc_id"]: r["phrased"]
            for r in T.phrase_join(df, ["b c", "a b"]).collect()}
    assert out2[2] == "x a b_c y"      # reversed rank, reversed winner


def test_phrase_bpe_learns_inside_compounds(spark):
    """ROADMAP 31 end-to-end: BPE trained on the phrased corpus
    learns merges ACROSS the old word boundary — the compound
    'new_york</w>' becomes one token, which char-BPE over unphrased
    text can never produce."""
    from pydin_spark.operators import text as T

    rows = [(i, "the new york office of the new york times") for i
            in range(20)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    phrases = ["new york"]
    phrased = T.phrase_join(df, phrases)
    merges = T.learn_bpe_merges(phrased, k=40, text_col="phrased")
    toks = T.phrase_bpe_tokenize(df, phrases, merges).first()["tokens"]
    assert "new_york</w>" in toks
    # and the unphrased encode cannot cross the space
    plain = T.bpe_tokenize(df, T.learn_bpe_merges(df, k=40)) \
        .first()["tokens"]
    assert "new_york</w>" not in plain


def test_shingle_spread_estimate_is_metadata_only(spark, views):
    """The small-input spread decision reads input-file metadata, not
    df.rdd (VERDICT r8 anti-pattern): a single-file fixture still
    gets the doc_id spread shuffle; a driver-local frame (no input
    files, already parallelized) does not."""
    from pydin_spark.operators.dedup import word_shingles

    plan = (word_shingles(spark.table("documents"))._jdf
            .queryExecution().executedPlan().toString())
    assert "hashpartitioning(doc_id" in plan
    local = spark.createDataFrame(
        [(1, "a b c d"), (2, "b c d e")], "doc_id long, text string")
    plan2 = (word_shingles(local)._jdf
             .queryExecution().executedPlan().toString())
    assert "hashpartitioning(doc_id" not in plan2
