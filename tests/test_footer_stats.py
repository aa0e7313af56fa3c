"""Manifest entries from parquet footers, with no Spark session: the
one footer reader ``_column_stats`` aggregates a column's statistics
over every row group, and ``_write_bucketed`` builds each entry's span,
row count, key range and tombstone flag from it."""

import os

import pyarrow as pa
import pyarrow.parquet as pq

from nifi_processors_spark.table import TransactionalTable, _column_stats


class _Written:
    """Stands in for the DataFrame ``_write_bucketed`` writes: its
    ``.drop(...).write.mode(...).parquet(dir)`` lands ``table`` as one
    file of ``rows_per_group``-row row groups."""

    def __init__(self, table: pa.Table, rows_per_group: int = 2):
        self.table, self.rows_per_group = table, rows_per_group
        self.write = self

    def drop(self, *_cols):
        return self

    def mode(self, _mode):
        return self

    def parquet(self, out_dir):
        os.makedirs(out_dir)
        pq.write_table(
            self.table, os.path.join(out_dir, "part-00000.parquet"),
            row_group_size=self.rows_per_group,
        )


def entry(tmp_path, keys, deleted=None, buckets=(0, 1, 2, 3)):
    """The manifest entry of one file of four rows in two row groups."""
    cols = {
        "_bucket": pa.array(buckets, pa.int32()),
        "conv_id": pa.array(keys, pa.string()),
        "_deleted": pa.array(deleted or [False] * len(keys), pa.bool_()),
    }
    table = TransactionalTable(None, str(tmp_path))
    _rel, (e,) = table._write_bucketed(_Written(pa.table(cols)), 1, "conv_id")
    return e


def test_stats_aggregate_over_row_groups(tmp_path):
    e = entry(tmp_path, ["c", "d", "a", "b"], buckets=(2, 3, 5, 7))
    assert (e["min_bucket"], e["max_bucket"], e["rows"]) == (2, 7, 4)
    assert (e["min_key"], e["max_key"]) == ("a", "d")
    md = pq.read_metadata(os.path.join(tmp_path, e["path"]))
    assert md.num_row_groups == 2
    assert _column_stats(md, "conv_id") == ("a", "d", 0)
    assert _column_stats(md, "no_such_column") is None


def test_null_key_in_a_later_row_group_gives_no_key_range(tmp_path):
    e = entry(tmp_path, ["a", "b", None, "c"])
    assert "min_key" not in e and "max_key" not in e
    assert (e["min_bucket"], e["max_bucket"]) == (0, 3)


def test_long_string_key_gives_no_key_range(tmp_path):
    """A writer may truncate string statistics of 60 chars or more, so
    the stored max can sort below a real value: no range is recorded."""
    e = entry(tmp_path, ["a", "b", "c", "x" * 60])
    assert "min_key" not in e and "max_key" not in e
    short = entry(tmp_path / "short", ["a", "b", "c", "x" * 59])
    assert (short["min_key"], short["max_key"]) == ("a", "x" * 59)


def test_tombstone_flag(tmp_path):
    assert entry(tmp_path / "one", list("abcd"), [False, False, False, True])["tombstones"] is True
    assert entry(tmp_path / "none", list("abcd"), [False] * 4)["tombstones"] is False
    # a null _deleted (not a live row under read()) flags the file too
    assert entry(tmp_path / "null", list("abcd"), [False, None, False, False])["tombstones"] is True


def test_all_null_deleted_row_group_gives_no_flag(tmp_path):
    """A row group of nulls has no min/max: no stats means the flag is
    absent, which compact(drop_tombstones=True) reads as "may hold
    one"."""
    e = entry(tmp_path, list("abcd"), [False, False, None, None])
    assert "tombstones" not in e
