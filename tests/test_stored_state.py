"""The commit log shared by the append-only stored-state families
(``operators/stored.py``): IncrementalDeduper, IncrementalLineDeduper,
StoredBigramLM, StoredSnapshot and StoredHistogram.

The crash-window contract: each family commits two batches, then its
log collapse is crashed at a fixed point. The next read must serve
exactly the pre-collapse answer, and a re-run collapse must keep
serving it."""

import pathlib

import pytest
import pyspark.sql.readwriter as rw

import pydin_spark
from pydin_spark import fs
from pydin_spark.operators import curation, dedup, text


class Crash(RuntimeError):
    pass


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _vals(spark, vals):
    return spark.createDataFrame([(float(v),) for v in vals], "x double")


def _deduper(spark, root):
    d = dedup.IncrementalDeduper(root, threshold=0.9)
    d.ingest(_docs(spark, [(10, "alpha beta gamma delta epsilon zeta"),
                           (11, "one two three four five six seven")]))
    d.ingest(_docs(spark, [(20, "red green blue cyan magenta yellow")]))
    probe = _docs(spark, [(999, "one two three four five six seven")])
    return (d, ("buckets", "shingles", "sizes"),
            lambda: sorted((r["id_new"], r["id_old"])
                           for r in d.check(probe).collect()),
            lambda: d.maintain(spark, checkpoint_above=1))


def _line_deduper(spark, root):
    ld = text.IncrementalLineDeduper(root)
    ld.ingest(_docs(spark, [(1, "shared line\nfirst only")]))
    ld.ingest(_docs(spark, [(2, "shared line\nsecond only")]))
    return (ld, ("firsts",),
            lambda: sorted(map(tuple, ld.seen_lines(spark).collect())),
            lambda: ld.maintain(spark, checkpoint_above=1))


def _lm(spark, root):
    lm = text.StoredBigramLM(root)
    lm.build(_docs(spark, [(1, "the cat sat on the mat"),
                           (2, "the dog sat on the log")]))
    lm.extend(_docs(spark, [(3, "a cat and a dog sat")]))
    probe = _docs(spark, [(9, "the cat sat on the log"),
                          (10, "a dog on the mat")])
    return (lm, ("vocab", "hist", "pair"),
            lambda: sorted(map(str, lm.score(probe).collect())),
            lambda: lm.maintain(spark))


def _snapshot(spark, root):
    reg = curation.StoredSnapshot(root)
    reg.apply(_docs(spark, [(1, "a"), (2, "b"), (3, "c")]))
    reg.apply(_docs(spark, [(1, "a"), (2, "b2"), (4, "d")]))
    return (reg, ("fps",),
            lambda: sorted(map(tuple, reg.current(spark).collect())),
            lambda: reg.maintain(spark))


def _histogram(spark, root):
    h = curation.StoredHistogram(root, "x", bin_width=1.0)
    h.extend(_vals(spark, [1.0]))
    h.extend(_vals(spark, [2.0, 2.5]))
    return (h, ("bins",),
            lambda: sorted(map(tuple, h.current(spark).collect())),
            lambda: h.maintain(spark))


FAMILIES = {"IncrementalDeduper": _deduper,
            "IncrementalLineDeduper": _line_deduper,
            "StoredBigramLM": _lm,
            "StoredSnapshot": _snapshot,
            "StoredHistogram": _histogram}


def _crash_swap(monkeypatch, nth, mid=True):
    """The ``nth`` ``fs.replace_dir`` call crashes: ``mid`` renames the
    live dir to its ``.__old__`` backup first (the window between the
    swap's two renames), otherwise nothing has moved yet."""
    real = fs.replace_dir
    calls = []

    def crashing(spark, staging, live, keep_backup=False):
        calls.append(live)
        if len(calls) == nth:
            if mid and fs.exists(spark, live):
                fs.rename(spark, live, live.rstrip("/") + ".__old__")
            raise Crash(f"crash in swap {nth} of {live}")
        return real(spark, staging, live, keep_backup)

    monkeypatch.setattr(fs, "replace_dir", crashing)


def _crash_data_write(monkeypatch, root, tables):
    """The first parquet write to one of the family's data tables
    crashes."""
    real = rw.DataFrameWriter.parquet
    targets = {f"{root}/{t}" for t in tables}

    def crashing(self, path, *args, **kwargs):
        if path.rstrip("/") in targets:
            raise Crash(f"crash writing {path}")
        return real(self, path, *args, **kwargs)

    monkeypatch.setattr(rw.DataFrameWriter, "parquet", crashing)


# table_swap (a crash inside the compaction that follows the log swap)
# runs the shared CommitLog code the same way for every family, so one
# family covers it
CASES = [(fam, point) for fam in FAMILIES
         for point in ("log_swap", "data_write")] \
    + [("IncrementalDeduper", "table_swap"),
       ("IncrementalLineDeduper", "between_swaps")]


@pytest.mark.parametrize("family,point", CASES)
def test_crashed_collapse_serves_pre_collapse_answer(
        spark, tmp_path, monkeypatch, family, point):
    root = str(tmp_path / "state")
    _, tables, serve, collapse = FAMILIES[family](spark, root)
    before = serve()
    if point == "log_swap":
        _crash_swap(monkeypatch, 1)
    elif point == "table_swap":
        _crash_swap(monkeypatch, 2)
    elif point == "between_swaps":
        _crash_swap(monkeypatch, 2, mid=False)
    else:
        _crash_data_write(monkeypatch, root, tables)
    with pytest.raises(Crash):
        collapse()
    monkeypatch.undo()
    assert serve() == before
    collapse()
    assert serve() == before


def test_history_answers_pinned(spark, tmp_path):
    """The pre-collapse answers the crash cases compare against are
    the real ones, not an empty read on both sides."""
    got = {name: make(spark, str(tmp_path / name))[2]()
           for name, make in FAMILIES.items()}
    assert got["IncrementalDeduper"] == [(999, 11)]
    assert [r[0] for r in got["IncrementalLineDeduper"]] \
        == ["first only", "second only", "shared line"]
    assert len(got["StoredBigramLM"]) == 2
    assert [r[0] for r in got["StoredSnapshot"]] == [1, 2, 4]
    assert got["StoredHistogram"] == [(1, 1), (2, 2)]


def test_stored_lm_crashed_build_keeps_previous_lm(spark, tmp_path,
                                                   monkeypatch):
    """A crash inside build()'s commit-log swap keeps serving the
    previous LM bit-identically; a re-run build() serves the new
    one."""
    old = _docs(spark, [(1, "the cat sat on the mat")])
    new = _docs(spark, [(1, "the cat sat on the mat"),
                        (2, "a dog sat on a log")])
    probe = _docs(spark, [(9, "the dog sat on the mat")])
    lm = text.StoredBigramLM(str(tmp_path / "lm"))
    lm.build(old)
    before = sorted(map(str, lm.score(probe).collect()))
    _crash_swap(monkeypatch, 1)
    with pytest.raises(Crash):
        lm.build(new)
    monkeypatch.undo()
    assert sorted(map(str, lm.score(probe).collect())) == before
    lm.build(new)
    fresh = text.StoredBigramLM(str(tmp_path / "fresh"))
    fresh.build(new)
    assert sorted(map(str, lm.score(probe).collect())) \
        == sorted(map(str, fresh.score(probe).collect())) != before


def test_stored_lm_extend_equals_full_build(spark, views, tmp_path):
    from pydin_spark.operators.text import StoredBigramLM
    d = spark.table("documents").limit(60)
    a = d.where("doc_id % 3 = 0")
    b = d.where("doc_id % 3 <> 0")
    inc = StoredBigramLM(str(tmp_path / "inc"))
    inc.build(a)
    inc.extend(b)
    full = StoredBigramLM(str(tmp_path / "full"))
    full.build(d)
    probe = spark.table("documents").where(
        "doc_id >= 60 AND doc_id < 90")
    key = lambda df: sorted(
        (r["doc_id"], r["n_bigrams"], f"{r['avg_logprob']:.9f}")
        for r in df.collect())
    assert key(inc.score(probe)) == key(full.score(probe))


def test_stored_lm_self_score_equals_bigram_logprob(spark, views,
                                                    tmp_path):
    from pydin_spark.operators.text import StoredBigramLM, bigram_logprob
    d = spark.table("documents").limit(40)
    lm = StoredBigramLM(str(tmp_path / "lm"))
    lm.build(d)
    key = lambda df: sorted(
        (r["doc_id"], r["n_bigrams"], f"{r['avg_logprob']:.9f}")
        for r in df.collect())
    assert key(lm.score(d)) == key(bigram_logprob(d))


def test_stored_lm_maintain_collapses_and_serves_identically(
        spark, views, tmp_path):
    from pydin_spark.operators.text import StoredBigramLM
    d = spark.table("documents").limit(50)
    lm = StoredBigramLM(str(tmp_path / "lm"))
    lm.build(d.where("doc_id < 20"))
    lm.extend(d.where("doc_id >= 20 AND doc_id < 35"))
    lm.extend(d.where("doc_id >= 35"))
    probe = spark.table("documents").where(
        "doc_id >= 50 AND doc_id < 70")
    before = sorted(map(str, lm.score(probe).collect()))
    out = lm.maintain(spark)
    assert out.get("collapsed_batches") == 3
    # one committed batch remains; serve is bit-identical
    assert spark.read.parquet(f"{lm.path}/commits").count() == 1
    assert sorted(map(str, lm.score(probe).collect())) == before


def test_stored_lm_maintain_refuses_empty_collapse(spark, views,
                                                   tmp_path):
    """Pre-fix corruption shape (commit log naming batch ids whose
    rows vanished, data files non-empty): maintain() must refuse to
    collapse — collapsing would commit an empty LM over surviving
    data."""
    from pydin_spark.operators.text import StoredBigramLM
    lm = StoredBigramLM(str(tmp_path / "lm"))
    lm.build(spark.table("documents").limit(20))
    # forge a log that names only batches absent from the data files
    spark.createDataFrame([("dead1", 0), ("dead2", 1)],
                          "batch string, seq long") \
        .repartition(1).write.mode("overwrite") \
        .parquet(f"{lm.path}/commits")
    spark.catalog.refreshByPath(f"{lm.path}/commits")
    with pytest.raises(ValueError, match="refusing to collapse"):
        lm.maintain(spark)
    # the data files survived the refusal
    assert not spark.read.parquet(f"{lm.path}/vocab").isEmpty()


def test_stored_lm_in_unified_state_sweep(spark, views, tmp_path):
    from pydin_spark.functions.maintenance import maintain_states
    from pydin_spark.operators.text import StoredBigramLM
    lm = StoredBigramLM(str(tmp_path / "lm"))
    lm.build(spark.table("documents").limit(20))
    lm.extend(spark.table("documents").limit(30))
    res = maintain_states(spark, [lm])
    key = f"StoredBigramLM[{lm.path}]"
    assert key in res and res[key].get("collapsed_batches") == 2
    # unbuilt state is a no-op, not an error
    empty = StoredBigramLM(str(tmp_path / "none"))
    res2 = maintain_states(spark, [empty])
    assert res2[f"StoredBigramLM[{empty.path}]"] == {}


def test_only_stored_module_touches_a_commit_log():
    root = pathlib.Path(pydin_spark.__file__).parent
    offenders = []
    for path in sorted(root.rglob("*.py")):
        if path == root / "operators" / "stored.py":
            continue
        for n, line in enumerate(path.read_text().splitlines(), 1):
            if "/commits" in line or "def _has_state" in line:
                offenders.append(f"{path.relative_to(root)}:{n}")
    assert not offenders, offenders
