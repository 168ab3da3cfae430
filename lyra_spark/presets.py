"""Canonical rulesets + one-call suites for the mandated inputs.

``transcript_ruleset``/``validate_transcripts`` implement the BASELINE.json:6
check suite over the transcripts schema; rule_ids match FIXTURES.md §1 so the
golden manifests line up.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from lyra_spark import fused
from lyra_spark import io as lio
from lyra_spark.engine import ValidationResult, compute_verdicts
from lyra_spark.rules import RuleSet, enum, nonempty, range_rule, required
from lyra_spark.schema import ROLE_ENUM


def transcript_ruleset() -> RuleSet:
    return RuleSet(
        [
            required("text", rule_id="text_required"),
            nonempty("text", rule_id="text_nonempty"),
            enum("role", ROLE_ENUM, rule_id="role_enum"),
            range_rule("turn_idx", min=0, rule_id="turn_idx_range"),
        ]
    )


def validate_transcripts(
    df: DataFrame,
    tools_dim: DataFrame,
    partition_col: str | None = "part_date",
    ruleset: RuleSet | None = None,
    partition_from_ts: bool = True,
    transitions: set | None = None,
    allowed_first: set | None = None,
    placement_ts: str | None = None,
) -> ValidationResult:
    """Full suite: row rules + referential + uniqueness + monotone ordering,
    as the two-pass plan of lyra_spark.fused — one scan for all row rules with
    the tools dim inlined, one conv_id exchange for the per-conversation
    checks.

    ``transitions`` (an allowed (prev_role, role) pair set) adds the
    sequence-structure check to the conv exchange; ``allowed_first``
    constrains each conversation's first role. ``placement_ts`` (a ts column
    name) adds the partition-placement check to the row-rule scan.

    The plan keys its exchange and verdict grid on ``partition_col``, so
    ``partition_col=None`` raises ValueError.

    partition_from_ts: set False when the table layout does NOT guarantee
    part_date = date(ts); the conv checks then order equal-turn_idx ties by
    (turn_idx, ts), at the cost of one extra sort.

    The result is lazy: each action on it recomputes the suite. Prefer
    run_suite(), which writes violations to their sink once and aggregates
    verdicts from the written files."""
    if partition_col is None:
        # placement compares event time AGAINST the partition value, and the
        # plan keys its shared exchange and verdict grid on the partition
        # column — raise the contract violation here, not a planner error
        what = "placement_ts" if placement_ts is not None else "validate_transcripts"
        raise ValueError(f"{what} requires a partition column (partition_col=None)")
    return fused.validate_transcripts_fused(
        df, tools_dim, ruleset or transcript_ruleset(), partition_col=partition_col,
        partition_from_ts=partition_from_ts, transitions=transitions,
        allowed_first=allowed_first, placement_ts=placement_ts,
    )


def run_suite(
    df: DataFrame,
    tools_dim: DataFrame,
    out_dir: str,
    partition_col: str = "part_date",
    ruleset: RuleSet | None = None,
    input_path: str | None = None,
    transitions: set | None = None,
    allowed_first: set | None = None,
    placement_ts: str | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Write-then-reuse execution of the full suite — the production shape.

    Runs validate_transcripts, then sink_verdicts: violations compute ONCE
    and land in their parquet sink; verdict counts aggregate from the
    WRITTEN files instead of recomputing the pipeline. Returns (violations
    read back, verdicts).

    ``transitions``/``allowed_first`` and ``placement_ts`` enable the
    sequence-structure and partition-placement checks as in
    validate_transcripts (the CLI's --check-transitions/--check-placement);
    their violations merge into the sink and the verdict grid.

    ``input_path``: the table ``df`` reads, UNFILTERED. When given,
    per-partition row counts come from its TableCatalog (parquet footers
    here; Iceberg manifest record counts in prod) and the verdict grid is
    assembled driver-side — no second data scan. Without it, or when the
    catalog serves no counts, verdicts fall back to the distributed
    compute_verdicts roll-up."""
    ruleset = ruleset or transcript_ruleset()
    res = validate_transcripts(
        df, tools_dim, partition_col=partition_col, ruleset=ruleset,
        transitions=transitions, allowed_first=allowed_first, placement_ts=placement_ts,
    )
    counts = (
        lio.catalog_for(df.sparkSession, input_path, partition_col).partition_record_counts()
        if input_path
        else None
    )
    grid = fused.suite_grid(ruleset, transitions is not None, placement_ts is not None)
    return sink_verdicts(df, res.violations, out_dir, grid, partition_col, counts)


def sink_verdicts(
    df: DataFrame,
    violations: DataFrame,
    out_dir: str,
    grid: tuple[list[str], dict[str, str] | None, dict[str, float] | None],
    partition_col: str,
    counts: dict[str, int] | None,
) -> tuple[DataFrame, DataFrame]:
    """The suite's one sink-then-verdict step (run_suite and the validate
    CLI's --out): write ``violations`` to ``out_dir``, read the sink back,
    and build the verdict grid for ``grid`` (fused.suite_grid) over ``df``.

    With ``counts`` (partition key → row count from table metadata) the grid
    is verdicts_from_metadata; with None it is the distributed
    compute_verdicts roll-up, which scans ``df`` for row counts."""
    lio.write_violations(violations, out_dir, partition_col=partition_col)
    # explicit schema: a clean run writes only _SUCCESS (no parquet files) and
    # schema inference would throw UNABLE_TO_INFER_SCHEMA on the empty sink
    viol = df.sparkSession.read.schema(violations.schema).parquet(out_dir)
    rule_ids, sev, tol = grid
    if counts is None:
        verd = compute_verdicts(df, viol, rule_ids, partition_col, severities=sev, tolerances=tol)
    else:
        verd = verdicts_from_metadata(df, viol, rule_ids, partition_col, counts,
                                      severities=sev, tolerances=tol)
    return viol, verd


def verdicts_from_metadata(
    df: DataFrame,
    viol: DataFrame,
    rule_ids: list[str],
    partition_col: str,
    counts: dict[str, int],
    severities: dict[str, str] | None = None,
    tolerances: dict[str, float] | None = None,
) -> DataFrame:
    """Verdict grid from metadata row counts + one tiny violation aggregate.

    The only cluster work is the violation count roll-up (input: the written
    sink, a few hundred KB); the (partitions × rules) grid itself is
    driver-assembled — same columns and values as compute_verdicts, minus its
    row-count scan and two join stages."""
    import pandas as pd
    from pyspark.sql import functions as F

    spark = df.sparkSession
    vc = viol.groupBy(partition_col, "rule_id").agg(F.count(F.lit(1)).alias("c")).collect()
    vmap = {(str(r[partition_col]), r["rule_id"]): r["c"] for r in vc}
    grid = [
        (pk, rid, vmap.get((pk, rid), 0), n)
        for pk, n in sorted(counts.items())
        for rid in rule_ids
    ]
    part_type = df.schema[partition_col].dataType.simpleString()
    # pandas in, Arrow across: a plain Python list becomes a pickled RDD whose
    # every task launches a Python worker just to unpickle a few grid rows
    # (measured: ~2 s of zero-CPU wall); the pandas path is a driver-side
    # Arrow conversion into a pure-JVM LocalRelation.
    gpdf = pd.DataFrame(grid, columns=["pk", "rule_id", "violation_count", "row_count"])
    if severities is not None:
        # same schema rule as compute_verdicts: severity column appears
        # exactly when the ruleset declares non-default severities
        gpdf["severity"] = [severities.get(r, "error") for r in gpdf["rule_id"]]
    if tolerances is not None:
        gpdf["tolerance"] = [float(tolerances.get(r, 0.0)) for r in gpdf["rule_id"]]
    ok = (
        F.col("violation_count") <= F.col("tolerance") * F.col("row_count")
        if tolerances is not None
        else F.col("violation_count") == 0
    )
    out = (
        spark.createDataFrame(gpdf)
        .select(
            F.col("pk").cast(part_type).alias(partition_col),
            "rule_id",
            ok.alias("pass"),
            "violation_count",
            "row_count",
            *(["severity"] if severities is not None else []),
            *(["tolerance"] if tolerances is not None else []),
        )
    )
    return out
