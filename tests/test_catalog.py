"""Iceberg-catalog seam contract test (round-4 VERDICT task 6).

The validate CLI's metadata consumers — checkpoint resume / change detection,
metadata-backed verdict row counts, snapshot lineage, freshness ranges — run
against the ``lyra_spark.io.TableCatalog`` INTERFACE. No Iceberg jars exist
in this sandbox, so these tests drive the full CLI with a FAKE catalog and
prove every consumer reads the interface, not parquet footers: counts are
deliberately offset so a footer read would produce different numbers."""

import json
import os

import pytest

from lyra_spark import checkpoint as ckpt
from lyra_spark import io as lio


class FakeCatalog(lio.TableCatalog):
    """In-memory catalog: snapshot -> partitions -> record counts -> ts
    ranges, like Iceberg's snapshots/.partitions metadata tables."""

    def __init__(self, snapshot=None, counts=None, ranges=None):
        self.snapshot = snapshot
        self.counts = counts
        self.ranges = ranges
        self.calls = {"snapshot_id": 0, "partitions": 0, "counts": 0, "ranges": 0}

    def snapshot_id(self):
        self.calls["snapshot_id"] += 1
        return self.snapshot

    def partitions(self):
        self.calls["partitions"] += 1
        return sorted(self.counts) if self.counts is not None else None

    def partition_record_counts(self):
        self.calls["counts"] += 1
        return dict(self.counts) if self.counts is not None else None

    def partition_ts_range(self, ts_col):
        self.calls["ranges"] += 1
        return dict(self.ranges) if self.ranges is not None else None


def test_parquet_footer_catalog_matches_module_functions(fixtures_sf0001):
    table = os.path.join(fixtures_sf0001, "transcripts")
    cat = lio.ParquetFooterCatalog(table)
    counts = cat.partition_record_counts()
    assert counts == lio.partition_row_counts(table)
    # partition LISTING is deliberately None for the footer stand-in: Hive
    # dir names are not authoritative for str(partition value) (zero-padded
    # dirs would feed partition_scope keys matching zero rows) — the
    # distinct-scan listing stays the source of truth
    assert counts and cat.partitions() is None
    assert cat.partition_ts_range("ts") == lio.partition_ts_range(table, "ts")
    assert cat.snapshot_id() is None  # parquet has no snapshot lineage


def test_catalog_for_dispatches_on_uri(spark):
    assert isinstance(lio.catalog_for(spark, "/some/dir"), lio.ParquetFooterCatalog)
    ic = lio.catalog_for(spark, "iceberg:prod.transcripts")
    assert isinstance(ic, lio.IcebergTableCatalog)
    assert ic.table == "prod.transcripts"


def test_iceberg_catalog_fallbacks_log_a_warning(spark, caplog):
    """Without Iceberg metadata tables every catalog method degrades to None
    (the scan path), and each fallback is logged once through ``logging``."""
    import logging

    cat = lio.catalog_for(spark, "iceberg:nope.t")
    with caplog.at_level(logging.WARNING, logger="lyra_spark.io"):
        assert cat.snapshot_id() is None
        assert cat.partitions() is None
        assert cat.partition_record_counts() is None
        assert cat.partition_ts_range("ts") is None
    msgs = [r.getMessage() for r in caplog.records if r.name == "lyra_spark.io"]
    assert len(msgs) == 3, msgs
    for what in ("snapshot query", "partition listing", "record counts"):
        assert sum(what in m for m in msgs) == 1, msgs


@pytest.fixture()
def table_and_counts(fixtures_sf0001):
    table = os.path.join(fixtures_sf0001, "transcripts")
    real = lio.partition_row_counts(table)
    assert real
    return table, real


def test_cli_metadata_and_freshness_come_from_the_catalog(
    tmp_path, spark, fixtures_sf0001, table_and_counts, capsys
):
    """Full CLI with an injected fake: verdict row counts carry the FAKE's
    (offset) numbers, the manifest carries the catalog snapshot id, and the
    freshness gate reads catalog ts ranges — all without touching footers."""
    from jobs.validate import main

    table, real = table_and_counts
    two = sorted(real)[:2]
    # +7 offset: a footer read could never produce these row counts
    fake_counts = {k: v + 7 for k, v in real.items()}
    real_ranges = lio.partition_ts_range(table, "ts")
    # age one partition's max ts far into the past -> stale under any bound
    aged = dict(real_ranges)
    aged[two[0]] = (aged[two[0]][0], aged[two[0]][1].replace(year=2000))
    cat = FakeCatalog(snapshot="snap-1", counts=fake_counts, ranges=aged)

    rpt = tmp_path / "report.json"
    args = [
        "--table", table,
        "--tools-dim", os.path.join(fixtures_sf0001, "tools_dim.parquet"),
        "--checkpoint", str(tmp_path),
        "--run-id", "rcat",
        "--out", str(tmp_path / "viol"),
        "--limit-partitions", "2",
        "--freshness-hours", "24",
        "--report", str(rpt),
    ]
    assert main(args, catalog=cat) == 0
    out = capsys.readouterr().out
    assert "freshness (metadata)" in out  # catalog ranges used, not a scan
    assert cat.calls["counts"] == 1 and cat.calls["ranges"] == 1

    mf = ckpt.load_manifest(str(tmp_path), "rcat")
    assert sorted(mf.records) == two  # catalog partition listing drove the loop
    for pk in two:
        assert mf.records[pk].snapshot_id == "snap-1"  # lineage from the catalog
        assert mf.records[pk].rows == fake_counts[pk]  # NOT the footer count
    rep = json.loads(rpt.read_text())
    got_rows = {p["partition"]: p["rows"] for p in rep["partitions"]}
    assert got_rows == {pk: fake_counts[pk] for pk in two}
    assert two[0] in rep["freshness_stale"]  # the aged partition flagged

    # verdict parquet row_count column also carries the catalog number
    import pyarrow.parquet as pq

    vdir = tmp_path / "rcat" / "verdicts" / f"part={two[0]}"
    vt = pq.read_table(next(vdir.glob("*.parquet")))
    assert set(vt.column("row_count").to_pylist()) == {fake_counts[two[0]]}


def test_cli_resume_and_revalidate_changed_through_catalog(
    tmp_path, spark, fixtures_sf0001, table_and_counts, capsys
):
    """Resume skips completed partitions under an unchanged catalog; a moved
    catalog record count re-queues exactly that partition; a snapshot bump
    ALONE (counts unchanged) does not — the count-first rule."""
    from jobs.validate import main

    table, real = table_and_counts
    two = sorted(real)[:2]
    cat = FakeCatalog(snapshot="snap-1", counts=dict(real))
    args = [
        "--table", table,
        "--tools-dim", os.path.join(fixtures_sf0001, "tools_dim.parquet"),
        "--checkpoint", str(tmp_path),
        "--run-id", "rres",
        "--limit-partitions", "2",
    ]
    assert main(args, catalog=cat) == 0
    mf1 = ckpt.load_manifest(str(tmp_path), "rres")
    assert sorted(mf1.records) == two
    done1 = {k: mf1.records[k].completed_at for k in two}

    # snapshot bump, counts unchanged, revalidate-changed on: nothing re-queues
    cat2 = FakeCatalog(snapshot="snap-2", counts=dict(real))
    assert main(args + ["--revalidate-changed", "--limit-partitions", "0"],
                catalog=cat2) == 0
    mf2 = ckpt.load_manifest(str(tmp_path), "rres")
    for k in two:
        assert mf2.records[k].completed_at == done1[k]

    # one partition's catalog count moves (late-arriving data): re-validated
    moved = dict(real)
    moved[two[0]] += 3
    cat3 = FakeCatalog(snapshot="snap-3", counts=moved)
    assert main(args + ["--revalidate-changed", "--limit-partitions", "1"],
                catalog=cat3) == 0
    out = capsys.readouterr().out
    assert "revalidate-changed: 1 completed" in out
    mf3 = ckpt.load_manifest(str(tmp_path), "rres")
    assert mf3.records[two[0]].completed_at != done1[two[0]]  # re-ran
    # without --out the verdict path counts by scan, so rows re-record the
    # ACTUAL count (catalog counts drove the change DETECTION; their
    # propagation into verdict row counts is the previous test's claim)
    assert mf3.records[two[0]].rows == real[two[0]]
    assert mf3.records[two[0]].snapshot_id == "snap-3"
    assert mf3.records[two[1]].completed_at == done1[two[1]]  # untouched
