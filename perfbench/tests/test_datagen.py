"""The fixed corpus is written once, whole, and reused."""

import os

import pyarrow.parquet as pq

import datagen


def test_ensure_corpus_writes_once(tmp_path):
    path = str(tmp_path / "corpus")
    assert datagen.ensure_corpus(path, seed=1, sf=0.0001) == path
    files = sorted(os.listdir(path))
    assert files == sorted(f"{t}.parquet" for t in datagen.TABLES)
    assert os.listdir(tmp_path) == ["corpus"]  # no temporary directory left
    stamp = os.path.getmtime(os.path.join(path, "lineitem.parquet"))
    datagen.ensure_corpus(path, seed=1, sf=0.0001)
    assert os.path.getmtime(os.path.join(path, "lineitem.parquet")) == stamp
    assert pq.read_metadata(os.path.join(path, "lineitem.parquet")).num_rows == 600


def test_same_seed_same_tables():
    a = datagen.build_tables(3, 0.0001)
    b = datagen.build_tables(3, 0.0001)
    assert all(a[t].equals(b[t]) for t in datagen.TABLES)
