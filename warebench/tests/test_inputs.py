"""The ingest feed: seeded, flat in size, and every snapshot stays readable."""

import os

import pyarrow.parquet as pq

import inputs


def _feed(tmp_path, seed):
    return inputs.IngestFeed(str(tmp_path / "src"), str(tmp_path / "store"),
                             n_parts=4, per_kind=5, seed=seed)


def _rows(files):
    return sum(pq.ParquetFile(f).metadata.num_rows for f in files)


def test_same_seed_same_batches(tmp_path):
    a, b = _feed(tmp_path / "a", 7), _feed(tmp_path / "b", 7)
    for i in range(3):
        assert a.next_batch(i)["keys"] == b.next_batch(i)["keys"]


def test_batches_keep_the_order_count_and_old_snapshots(tmp_path):
    feed = _feed(tmp_path, 3)
    start = _rows(feed.snapshot()["orders"])
    snapshots = []
    for i in range(3):
        batch = feed.next_batch(i)
        assert len(set(batch["keys"])) == 15
        assert batch["landed_bytes"] > 0 and batch["changed_rows"] > 0
        snapshots.append(batch["snapshot"])
        assert _rows(batch["snapshot"]["orders"]) == start
    for table in ("orders", "lineitem"):
        listed = os.listdir(tmp_path / "src" / f"{table}.parquet")
        assert len(listed) == 4  # one current part file per part
    for snap in snapshots:
        assert all(os.path.isfile(f) for files in snap.values() for f in files)
