"""The batch-keyed state store shared by every stateful streaming sink
(`filestream._BatchKeyedState`): checkpoint-lifetime refusals for
each sink, readers over a missing state dir, and ``file:`` URI state
dirs. Only the ``file:`` test runs a streaming query."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import types as T

from d2d_spark.streaming import filestream as fs

SCHEMA = T.StructType(
    [
        T.StructField("k", T.StringType()),
        T.StructField("t", T.LongType()),
        T.StructField("x", T.DoubleType()),
        T.StructField("s", T.StringType()),
        T.StructField("v", T.StringType()),
        T.StructField("seq", T.LongType()),
        T.StructField("op", T.StringType()),
    ]
)

# sink name -> (start the sink over df, state file suffix)
SINKS = {
    "bloom": (
        lambda df, st, ck, tmp: fs.stream_bloom_dedup_sink(
            df, "k", st, str(tmp / "out"), ck, expected_items=100
        ),
        ".bloom",
    ),
    "cms": (lambda df, st, ck, tmp: fs.stream_cms_sink(df, "k", st, ck), ""),
    "quantile": (lambda df, st, ck, tmp: fs.stream_quantile_sink(df, "x", st, ck), ""),
    "cdc": (
        lambda df, st, ck, tmp: fs.stream_apply_changes(
            df,
            df.sparkSession.createDataFrame([], "k string, v string"),
            ["k"],
            "seq",
            st,
            ck,
        ),
        "",
    ),
    "scd2": (
        lambda df, st, ck, tmp: fs.stream_scd2_apply(df, ["k"], "t", ["v"], st, ck),
        "",
    ),
    "transition": (
        lambda df, st, ck, tmp: fs.stream_transition_sink(df, "k", "t", "s", st, ck),
        "",
    ),
    "ewma": (
        lambda df, st, ck, tmp: fs.stream_ewma_sink(df, "k", "t", "x", 0.5, st, ck),
        "",
    ),
    "attribution": (
        lambda df, st, ck, tmp: fs.stream_attribution_sink(
            df, "k", "t", "s", ["buy"], ["ad"], st, ck
        ),
        "",
    ),
    "holt": (
        lambda df, st, ck, tmp: fs.stream_holt_sink(df, "k", "t", "x", 0.5, 0.5, st, ck),
        "",
    ),
    "cusum": (
        lambda df, st, ck, tmp: fs.stream_cusum_sink(df, "k", "t", "x", 0.0, st, ck),
        "",
    ),
    "psi": (
        lambda df, st, ck, tmp: fs.stream_psi_sink(df, "x", [0.0], [0.5, 0.5], st, ck),
        "",
    ),
}


@pytest.mark.parametrize("direction", ["fresh", "resuming"])
@pytest.mark.parametrize("sink", sorted(SINKS))
def test_sink_refuses_checkpoint_state_lifetime_mismatch(spark, tmp_path, sink, direction):
    """A fresh checkpoint over surviving state, and a resumed
    checkpoint over an empty state dir, both raise before any query
    starts — for every stateful sink."""
    start, suffix = SINKS[sink]
    src = tmp_path / "src"
    src.mkdir()
    state = tmp_path / "state"
    state.mkdir()
    ckpt = tmp_path / "ckpt"
    if direction == "fresh":
        entry = state / f"state_after_batch_0{suffix}"
        if suffix:
            entry.write_bytes(b"")
        else:
            entry.mkdir()
    else:
        (ckpt / "offsets").mkdir(parents=True)
    df = fs.file_stream(spark, str(src), SCHEMA)
    with pytest.raises(ValueError, match=f"is {direction} but state_dir"):
        start(df, str(state), str(ckpt), tmp_path)
    assert not spark.streams.active
    assert not (tmp_path / "out").exists()


READERS = {
    fs.latest_cms_state: None,
    fs.latest_quantile_state: None,
    fs.latest_cdc_snapshot: None,
    fs.latest_scd2_history: None,
    fs.latest_transition_state: (None, None),
    fs.ewma_stream_state: (None, None),
    fs.attribution_stream_state: (None, None),
    fs.series_stream_state: (None, None),
    fs.psi_stream_state: (None, None),
}


@pytest.mark.parametrize("reader", list(READERS), ids=lambda r: r.__name__)
def test_state_readers_answer_missing_and_empty_dirs(tmp_path, reader):
    """A sink that never ran is an answerable question: every reader
    returns its documented empty value for a missing or empty state
    dir, without touching Spark."""
    assert reader(None, str(tmp_path / "never_created")) == READERS[reader]
    assert reader(None, str(tmp_path)) == READERS[reader]


def test_file_uri_state_dir_resolves_to_local_path(spark, tmp_path, monkeypatch):
    """A ``file:`` state_dir holds its state under the real path, both
    for the commit and for the newest-prior load on resume, and leaves
    no literal 'file:' directory behind in the working directory."""
    from pyspark.sql import functions as F

    monkeypatch.chdir(tmp_path)
    src = tmp_path / "src"
    state = tmp_path / "state"
    state_uri = f"file:{state}"
    ckpt = str(tmp_path / "ckpt")
    schema = T.StructType([T.StructField("x", T.DoubleType())])

    def run(name, vals):
        spark.createDataFrame([(v,) for v in vals], schema).write.parquet(str(src / name))
        fs.stream_quantile_sink(
            fs.file_stream(spark, str(src) + "/*", schema), "x", state_uri, ckpt
        )

    run("d1", [1.0, 2.0, 2.0])
    run("d2", [2.0, 5.0])
    names = os.listdir(state)
    assert len([n for n in names if n.startswith("state_after_batch_")]) == 2
    assert not [n for n in names if n.endswith(".tmp")]
    assert not (tmp_path / "file:").exists()
    got = fs.latest_quantile_state(spark, state_uri)
    counts = {r["__v"]: r["__c"] for r in got.orderBy(F.col("__v")).collect()}
    assert counts == {1.0: 1, 2.0: 3, 5.0: 1}


def _entry(spark, path: str):
    """A state entry's content: the bytes of a file entry, else the
    sorted rows of the frame or of each named part."""
    if os.path.isfile(path):
        with open(path, "rb") as f:
            return f.read()
    parts = sorted(p for p in os.listdir(path) if os.path.isdir(os.path.join(path, p)))

    def rows(p):
        return sorted(repr(r) for r in spark.read.parquet(p).collect())

    return {p: rows(os.path.join(path, p)) for p in parts} if parts else rows(path)


@pytest.mark.parametrize("sink", ["bloom", "cms", "quantile", "transition", "psi"])
def test_newest_only_sinks_keep_two_entries_and_replay(spark, tmp_path, sink):
    """Sinks whose readers read only the newest entry, and whose batch
    N reads only the newest entry below N, keep the last two entries:
    after three batches the state dir holds exactly two, and replaying
    the newest batch (its commit dropped from the checkpoint)
    reproduces its entry from the one before it."""
    start, suffix = SINKS[sink]
    src, state, ckpt = tmp_path / "src", tmp_path / "state", tmp_path / "ckpt"

    def run():
        start(fs.file_stream(spark, str(src) + "/*", SCHEMA), str(state), str(ckpt), tmp_path)

    for b in range(3):
        rows = [
            (f"k{i % 3}", 10 * b + i, float(i + b), ["ad", "buy", "view"][i % 3], "v", i, "u")
            for i in range(6)
        ]
        spark.createDataFrame(rows, SCHEMA).write.parquet(str(src / f"d{b}"))
        run()
    names = sorted(n for n in os.listdir(state) if n.startswith("state_after_batch_"))
    assert names == [f"state_after_batch_{i}{suffix}" for i in (1, 2)]

    newest = str(state / names[-1])
    before = _entry(spark, newest)
    for name in ("2", ".2.crc"):
        if (ckpt / "commits" / name).exists():
            (ckpt / "commits" / name).unlink()
    run()
    assert (ckpt / "commits" / "2").exists()
    assert sorted(n for n in os.listdir(state) if n.startswith("state_after_batch_")) == names
    assert _entry(spark, newest) == before
