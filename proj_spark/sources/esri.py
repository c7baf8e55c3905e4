"""ESRI authority CRS codes — `ESRI:54008`-style world projections,
`ESRI:102100` web mercator, etc.

The reference's data/sql/esri.sql defines the ESRI projected-CRS
catalogue; the rows for the self-contained codes (the World_* 53xxx /
54xxx series and the web-mercator family) embed their full ESRI-WKT1
definition in the text column. This module resolves an ESRI code from a
bundled data-only extract of exactly those rows
(tests/fixtures/epsg_sql/esri_projected_wkt.sql) and lowers the embedded
WKT through the sources.wkt ESRI dialect — one shared lowering, no
second catalogue format.
"""

from __future__ import annotations

import functools


@functools.cache
def _catalogue() -> dict:
    """ESRI code -> embedded ESRI-WKT1 text, from the extract's
    projected_crs rows (auth, code, name, ..., text_definition, deprecated)
    read through the registry's SQL reader."""
    from proj_spark.sources.epsg import _extract_rows

    m: dict = {}
    for table, vals in _extract_rows("esri_projected_wkt.sql", "esri.sql"):
        if (table == "projected_crs" and vals[0] == "ESRI"
                and str(vals[10]).startswith("PROJCS[")):
            m.setdefault(vals[1], vals[10])
    return m


def esri_to_proj(code: str | int) -> str:
    """proj-string for an `ESRI:NNNNN` (or bare `NNNNN`) projected-CRS
    code whose definition is in the bundled extract."""
    from proj_spark.sources.wkt import wkt_to_proj

    code = str(code).strip()
    if ":" in code:
        code = code.split(":", 1)[1]
    wkt = _catalogue().get(code)
    if wkt is None:
        raise KeyError(
            f"ESRI:{code} not in the bundled catalogue (only codes whose "
            f"esri.sql row embeds a WKT definition are resolvable)")
    return wkt_to_proj(wkt)
