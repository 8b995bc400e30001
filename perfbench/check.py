"""Output checks.

- ``poll`` and ``schedule``: every submitted feature, in order, against
  ``pipelines.gtfs_fixture.oracle_features`` run over the same
  generated entities (``FeatureTally``).
- ``lanes``: every lane result against its DuckDB oracle from
  ``registry.all_oracles()``, with the value normalisation and type
  classes of ``tools/check_correctness.py`` (``LaneOracle``).
"""

from __future__ import annotations

import importlib.util
import os
import sys
from decimal import ROUND_HALF_UP, Decimal


def first_difference(got, exp, path: str = "feature"):
    """Path and both values of the first field where ``got`` and
    ``exp`` differ, or None when they are equal."""
    if isinstance(got, dict) and isinstance(exp, dict):
        for k in list(exp) + [k for k in got if k not in exp]:
            d = first_difference(got.get(k), exp.get(k), f"{path}.{k}")
            if d:
                return d
        return None
    if isinstance(got, list) and isinstance(exp, list) and len(got) == len(exp):
        for i, (g, e) in enumerate(zip(got, exp)):
            d = first_difference(g, e, f"{path}[{i}]")
            if d:
                return d
        return None
    return None if got == exp else f"{path}: got {got!r}, expected {exp!r}"


def java_fixed(x: float, digits: int = 1) -> str:
    """What Java's ``%.1f`` prints: HALF_UP on the shortest decimal
    string of the double, where JS ``toFixed`` rounds its exact binary
    value (15.45 is 15.4499… in binary: Java "15.5", JS "15.4")."""
    return str(Decimal(repr(float(x))).quantize(Decimal(1).scaleb(-digits),
                                                rounding=ROUND_HALF_UP))


def is_speed_rounding_divergence(got: dict, exp: dict) -> bool:
    """True when the two features differ only in the Speed line of
    ``remarks``, and there only as Java ``%.1f`` against JS
    ``toFixed(1)`` of the same speed: the known divergence of
    ``functions.scalar.format_fixed``."""
    from etl_wlg_metlink_spark.pipelines.gtfs_fixture import js_tofixed

    gp, ep = got.get("properties", {}), exp.get("properties", {})
    if {**got, "properties": {**gp, "remarks": None}} != {
        **exp, "properties": {**ep, "remarks": None}
    }:
        return False
    g_lines = str(gp.get("remarks")).split("\n")
    e_lines = str(ep.get("remarks")).split("\n")
    diff = [(g, e) for g, e in zip(g_lines, e_lines) if g != e]
    if len(g_lines) != len(e_lines) or len(diff) != 1:
        return False
    speed = ep["metadata"]["vehicle"]["position"].get("speed")
    return speed is not None and diff[0] == (
        f"Speed: {java_fixed(speed)} m/s",
        f"Speed: {js_tofixed(speed)} m/s",
    )


class FeatureTally:
    """Running comparison of submitted FeatureCollections with the
    oracle. A feature counts as wrong if it differs in any field;
    ``unexplained`` counts the wrong ones that are not the known Speed
    rounding divergence (and features missing or extra)."""

    def __init__(self):
        self.features = 0
        self.wrong = 0
        self.unexplained = 0
        self.first_diff = None

    def add(self, fc: dict, entities: list[dict]) -> None:
        from etl_wlg_metlink_spark.pipelines.gtfs_fixture import oracle_features

        got, exp = fc.get("features", []), oracle_features(entities)
        self.features += max(len(got), len(exp))
        missing = abs(len(got) - len(exp))
        self.wrong += missing
        self.unexplained += missing
        if missing and self.first_diff is None:
            self.first_diff = f"feature count: got {len(got)}, expected {len(exp)}"
        for g, e in zip(got, exp):
            if g == e:
                continue
            self.wrong += 1
            if not is_speed_rounding_divergence(g, e):
                self.unexplained += 1
            if self.first_diff is None:
                self.first_diff = first_difference(g, e)

    def match_share(self) -> float:
        return 1 - self.wrong / self.features if self.features else 0.0


def _check_correctness_module(root: str):
    path = os.path.join(root, "tools", "check_correctness.py")
    spec = importlib.util.spec_from_file_location("check_correctness", path)
    module = importlib.util.module_from_spec(spec)
    sys.path.insert(0, root)
    spec.loader.exec_module(module)
    return module


class LaneOracle:
    """DuckDB oracle results for a fixed set of lanes over one table
    directory, computed once, and the comparison of a Spark result
    with them (row count, sorted column names, per-column type class,
    order-insensitive multiset of normalised values)."""

    def __init__(self, root: str, sf_dir: str, lanes: list[str], oracles: dict):
        import duckdb

        self._cc = _check_correctness_module(root)
        con = duckdb.connect()
        for f in sorted(os.listdir(sf_dir)):
            name = f.removesuffix(".parquet")
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(sf_dir, f)}')")
        self._expected = {}
        for lane in lanes:
            rel = con.sql(oracles[lane])
            cols = list(rel.columns)
            types = [self._cc._duck_type_label(str(t)) for t in rel.types]
            self._expected[lane] = (cols, types, rel.fetchall())
        con.close()

    def problems(self, lane: str, schema, rows) -> list[str]:
        cols, types, exp_rows = self._expected[lane]
        names = [f.name for f in schema.fields]
        out = []
        if len(rows) != len(exp_rows):
            out.append(f"rowcount spark={len(rows)} duck={len(exp_rows)}")
        if sorted(names) != sorted(cols):
            return out + [f"cols spark={sorted(names)} duck={sorted(cols)}"]
        spark_types = {f.name: self._cc._spark_type_label(f.dataType) for f in schema.fields}
        bad = [f"{c}: spark={spark_types[c]} duck={t}"
               for c, t in zip(cols, types) if spark_types[c] != t]
        if bad:
            out.append("types " + "; ".join(bad))
        if not out:
            got = self._cc._multiset(rows, names)
            exp = self._cc._multiset(exp_rows, cols)
            if got != exp:
                out.append(f"values spark-only={list((got - exp).items())[:2]} "
                           f"duck-only={list((exp - got).items())[:2]}")
        return out
