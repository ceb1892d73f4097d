"""Dev harness mirroring the driver's correctness gate: run every
queries() entry in Spark AND its oracle in DuckDB, compare row count +
columns + order-insensitive values. Usage:

    python tools/check_oracles.py [sf_dir] [query ...]

An entry whose oracle embeds artifacts trained on one corpus (ANN
codebooks, BPE merges, the quality classifier) prints as ``ONLY`` (not
counted as a failure) on a corpus of any other scale. The scale is read
from the corpus (its ``orders`` row count), not its directory name.

The comparison core (``open_oracle_connection`` / ``compare_query``) is
shared with tests/test_full_registry.py, the pytest gate that runs the
FULL registry at sf0.001 on every test run.
"""

from __future__ import annotations

import sys
import os

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import pandas as pd

from ph_ee_nats_importer_rdbms_spark.plans.queries import QUERIES


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()

    def canon(v):
        if v is None or (isinstance(v, float) and pd.isna(v)):
            return "<null>"
        # list/array cells: canonicalize elementwise — Spark hands back
        # python lists, DuckDB numpy arrays, and their str() forms differ
        # ("[1, 2]" vs "[1 2]"); pd.isna on them is elementwise and
        # un-truthy, so they must be handled before the scalar isna
        if isinstance(v, (list, tuple)) or hasattr(v, "tolist"):
            items = v.tolist() if hasattr(v, "tolist") else list(v)
            return "[" + ", ".join(canon(x) for x in items) + "]"
        if pd.isna(v):
            return "<null>"
        if isinstance(v, float):
            return repr(v)
        return str(v)

    out = df.apply(lambda col: col.map(canon))
    return out.sort_values(by=list(out.columns), ignore_index=True)


def open_oracle_connection(sf_dir: str) -> "duckdb.DuckDBPyConnection":
    """A DuckDB connection with the driver's table views pre-registered."""
    from ph_ee_nats_importer_rdbms_spark.sources.files import TABLE_NAMES

    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def compare_query(spark, con, name: str, sf_dir: str) -> tuple[bool, str]:
    """Run one registry entry both ways; (ok, human-readable message).

    ``ok`` is True for value-identical results AND for no-oracle entries
    (those are gated by dedicated pytest bounds instead)."""
    fn, oracle = QUERIES[name]
    try:
        got = fn(spark, sf_dir).toPandas()
    except Exception as e:  # noqa: BLE001
        return False, f"spark error: {e}"
    if oracle is None:
        return True, f"no oracle (rows={len(got)})"
    try:
        want = con.execute(oracle).fetchdf()
    except Exception as e:  # noqa: BLE001
        return False, f"duckdb error: {e}"
    if sorted(got.columns) != sorted(want.columns):
        return False, (
            f"columns differ\n  spark: {sorted(got.columns)}"
            f"\n  duck:  {sorted(want.columns)}"
        )
    if len(got) != len(want):
        return False, f"row count spark={len(got)} duck={len(want)}"
    g, w = normalize(got), normalize(want)
    if not g.equals(w):
        neq = (g != w).any(axis=1)
        diff = pd.concat(
            [g[neq].head(3).add_suffix("_spark"), w[neq].head(3).add_suffix("_duck")],
            axis=1,
        ).T
        return False, f"{int(neq.sum())}/{len(g)} rows differ; first diffs:\n{diff}"
    return True, f"{len(got)} rows"


def oracle_scale(oracle: str | None) -> str | None:
    """The one corpus an oracle is value-exact on, or None if it holds at
    every scale. Oracles that embed the ANN codebooks, the BPE merges or
    the quality classifier trained on ``ORACLE_SF_BASE`` are found by one
    literal of each of those artifacts in their SQL."""
    from ph_ee_nats_importer_rdbms_spark.analytics import bpe, classifier, similarity

    base = similarity.ORACLE_SF_BASE
    assert bpe.ORACLE_SF_BASE == classifier.ORACLE_SF_BASE == base

    def q(x: str) -> str:  # a SQL string literal's body, as the oracles write it
        return x.replace("'", "''")

    a, b = map(q, bpe.BPE_MERGES[base][0])
    weights = classifier.NB_MODELS[base]["weights"]
    token = min(weights)
    probes = (
        repr(float(similarity.IVF_CODEBOOKS[base][0][0])),
        repr(float(similarity.PQ_CODEBOOKS[base][0][0][0])),
        f"' {a}  {b} ', ' {a}{b} '",
        f"('{q(token)}', {int(weights[token])})",
    )
    if oracle and any(p in oracle for p in probes):
        return base
    return None


def corpus_scale(sf_dir: str) -> str:
    """The TPC-H scale of the corpus in ``sf_dir`` (``sf0.001`` ...),
    from its ``orders`` row count (1.5M rows per unit of scale)."""
    import pyarrow.dataset as ds

    rows = ds.dataset(os.path.join(sf_dir, "orders.parquet")).count_rows()
    return f"sf{rows / 1_500_000:g}"


def label(name: str, ok: bool, msg: str, here: str) -> tuple[str, bool]:
    """(printed line, counts as a failure) for one compared entry on a
    corpus of scale ``here`` (:func:`corpus_scale`). An entry whose
    oracle is only valid at another scale is labelled as such rather
    than passed or failed, unless either side raised; at its own scale
    it is compared like any other."""
    scale = oracle_scale(QUERIES[name][1])
    errored = msg.startswith(("spark error", "duckdb error"))
    if scale not in (None, here) and not errored:
        return f"ONLY {name}: oracle valid only at {scale}, corpus is {here} ({msg})", False
    if ok:
        tag = "SKIP" if msg.startswith("no oracle") else "OK  "
        return f"{tag} {name}: {msg}", False
    return f"FAIL {name}: {msg}", True


def main() -> int:
    from ph_ee_nats_importer_rdbms_spark.session import build_session

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])
    spark = build_session(shuffle_partitions=8)
    con = open_oracle_connection(sf_dir)
    here = corpus_scale(sf_dir)
    failures = 0
    for name in QUERIES:
        if only and name not in only:
            continue
        line, failed = label(name, *compare_query(spark, con, name, sf_dir), here)
        print(line)
        failures += failed
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
