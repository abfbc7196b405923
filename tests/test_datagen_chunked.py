"""Chunked tokens generation (datagen._write_tokens).

sf > 1 corpora exceed pyarrow's int32 list-offset ceiling if built as
ONE ListArray (gen_tokens raises at ~2^31 corpus bytes), so ensure_sf
streams chunks through a ParquetWriter.  Pure pyarrow — no Spark.
"""

import pyarrow.parquet as pq
import pytest

from opentelemetry_collector_contrib_spark import datagen


def test_chunked_tokens_deterministic_and_unique(tmp_path, monkeypatch):
    # shrink the chunk so the multi-chunk path runs at test scale
    monkeypatch.setattr(datagen, "TOKENS_CHUNK", 1000)
    p1, p2 = str(tmp_path / "a.parquet"), str(tmp_path / "b.parquet")
    datagen._write_tokens(p1, 2500)          # 3 chunks: 1000/1000/500
    datagen._write_tokens(p2, 2500)
    t = pq.read_table(p1)
    assert t.num_rows == 2500
    ids = t.column("doc_id").to_pylist()
    assert len(set(ids)) == 2500             # global offset keeps ids unique
    assert ids[0] == "doc-00000000" and ids[-1] == "doc-00002499"
    # same sf -> same bytes (the ensure_sf determinism contract)
    assert open(p1, "rb").read() == open(p2, "rb").read()
    # schema identical to the single-shot path
    single = str(tmp_path / "c.parquet")
    datagen._write_tokens(single, 500)
    assert pq.read_schema(single).equals(pq.read_schema(p1))


def test_single_shot_path_unchanged(tmp_path, monkeypatch):
    """n <= TOKENS_CHUNK must keep the original one-stream draw order —
    earlier rounds' sf <= 1 fixtures must stay byte-identical."""
    import numpy as np
    p = str(tmp_path / "d.parquet")
    datagen._write_tokens(p, 1200)
    rng = np.random.default_rng(np.random.PCG64(datagen.SEED))
    want = datagen.gen_tokens(rng, 1200)
    got = pq.read_table(p)
    assert got.column("doc_id").to_pylist() == want.column("doc_id").to_pylist()
    assert got.column("n_tok").to_pylist() == want.column("n_tok").to_pylist()


@pytest.mark.parametrize("winner_published", [False, True])
def test_ensure_sf_survives_lost_stale_swap(tmp_path, monkeypatch,
                                            winner_published):
    """Two generators find the same stale dir and both try to swap it
    out.  Here the other one renamed it first, so our swap finds no
    ``d``.  We must then publish our copy, or, when the winner has
    already published, drop ours and return the winner's."""
    import os

    monkeypatch.setattr(datagen, "DATA_ROOT", str(tmp_path))
    d = datagen._sf_dir(0.0001)
    os.makedirs(d)
    with open(os.path.join(d, "_GENERATED"), "w") as f:
        f.write("v0 stale\n")
    real_rename = os.rename

    def racing_rename(src, dst):
        if src != d:
            return real_rename(src, dst)
        real_rename(d, str(tmp_path / "competitor-stale"))
        try:
            return real_rename(src, dst)      # d is gone: raises
        finally:
            if winner_published:
                os.makedirs(d)
                with open(os.path.join(d, "_GENERATED"), "w") as f:
                    f.write(f"{datagen.GEN_VERSION} winner\n")

    monkeypatch.setattr(os, "rename", racing_rename)
    assert datagen.ensure_sf(0.0001) == d
    assert datagen._marker_valid(d)
    winner = open(os.path.join(d, "_GENERATED")).read().endswith("winner\n")
    assert winner == winner_published
    assert os.path.exists(os.path.join(d, "tokens.parquet")) \
        != winner_published
    # neither our build dir nor the stale-swap dir is left behind
    assert sorted(os.listdir(tmp_path)) == ["competitor-stale", "sf0.0001"]
