"""Reserved internal column-name guard.

Several operators stage fixed-name helper columns on the CALLER's
frame (``_rn``, ``_salt``, ``_bucket``, ``_ts``...) and drop them on
the way out. If the input already carries a column with one of those
names, ``withColumn`` silently REPLACES it — the user's column is
destroyed (or, worse, emitted with engine-internal values: the old
asof_join would return a caller's ``_side`` column as lit(1)).

No registered query and none of the engine's own pipelines use
underscore-prefixed input columns, so the collision can only come from
an external caller — exactly the latent class the round-16
``dedup_lines_in_doc`` separator fix came from (a hazard reachable
only through arguments/inputs no internal caller uses). The contract
is: these names are reserved, and a colliding input fails LOUDLY at
plan-build time instead of silently losing data at 100 TB.

Guaranteed-guarded entry points — every public operator that both
(a) stages a fixed helper name on a frame the caller supplies and
(b) passes caller columns through to its output (the combination that
can silently destroy caller data). Audited round 17:

- operators/dedup.py  keep_latest           ``_rn``
- operators/watermark.py latest_version_per_key ``_rn``
- operators/joins.py  asof_join             ``_ts _side _m _r_<col>``
- operators/joins.py  range_join            ``_bucket``
- operators/joins.py  salted_join           ``_salt``
- operators/scd2.py   dense_row_number      ``_dense_pid _dense_off``
- operators/lookup.py lookup_join           ``_lk`` (both sides)
- sources/xml_source.py parse_xml_records / parse_xml_records_quarantined
                                            ``_rec``
- extensions/layout.py deterministic_shuffle ``_shuffle_key``
- operators/lookup.py prepare_dimension     ``_rn`` (projected output,
  guarded anyway: its frame is the caller's dimension)

Everything else that stages underscore names (survivorship_merge's
``_fp``/``_rn``, column_stats_partials' ``_rn``, topk_for_queries'
``_b``/``_rn``, boilerplate_scrub's ``_keep``/``_boiler``, the graph /
sketch / sampling helpers) does so on frames the ENGINE projects first
(``df.select(engine-chosen columns)``) or on groupBy results — caller
columns never survive into those frames or their outputs, so a
colliding input is consumed, never corrupted: the engine value always
wins and the output schema is a fixed projection. Collision
value-equivalence tests pin that claim (tests/test_reserved_columns.py).
Staging that rides in via a JOIN against an engine aggregate (e.g.
weighted_sample's ``_quota``, scd2_merge's ``_scd2_hit``) fails loudly
on its own as a duplicate-column AnalysisException.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def require_free_columns(df: DataFrame, names: list[str], op: str) -> None:
    """Raise if ``df`` already carries any of the reserved ``names``.

    Called at plan-build time (no Spark action); the error names both
    the operator and the colliding columns so the caller can rename.

    Matching honors ``spark.sql.caseSensitive``: under the default
    (false) Spark resolves — and ``withColumn`` REPLACES — columns
    case-insensitively, so a caller's ``_RN`` is destroyed by staging
    ``_rn`` just as surely as a lower-case one; the guard must compare
    the same way (r16 ADVICE). Under caseSensitive=true a case-variant
    column is a genuinely distinct name that passes through untouched,
    so exact comparison is the correct (and less restrictive) check.
    """
    case_sensitive = str(df.sparkSession.conf.get(
        "spark.sql.caseSensitive", "false")).lower() == "true"
    if case_sensitive:
        clash = [n for n in names if n in df.columns]
    else:
        have = {c.lower() for c in df.columns}
        clash = [n for n in names if n.lower() in have]
    if clash:
        raise ValueError(
            f"{op}: input columns {clash} collide with reserved internal "
            f"staging names; rename them before calling (underscore-"
            f"prefixed helper columns are engine-reserved)")
