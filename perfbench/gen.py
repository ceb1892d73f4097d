"""Seeded input generator and DuckDB oracle for the benchmark.

Everything here runs in DuckDB, never in the Spark program under test:

- TPC-H tables come from DuckDB's bundled ``tpch`` extension (``dbgen``),
  projected to the column types of the repo's parquet test tables, and
  ``orders`` is cut to a seeded row subset.
- Zeebe 1.x envelopes are derived from those orders with the shared-dialect
  SQL of ``plans/synthetic.py`` (``derivation_sql("duckdb")``) and rendered
  to JSON lines in global (timestamp, position) order, null fields omitted.
- The expected five business tables are the ``synthetic.*_ORACLE`` queries
  over the same orders.

The same seed always yields the same rows. A run generates its inputs in a
child process (``python3 gen.py '<spec json>'``) before any timing, so
neither DuckDB's time nor its memory shows in the run's figures.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import duckdb

from ph_ee_nats_importer_rdbms_spark.plans import synthetic

#: Output table -> the oracle SQL computing its expected rows.
ORACLES = {
    "transfers": synthetic.TRANSFERS_ORACLE,
    "transaction_requests": synthetic.TRANSACTION_REQUESTS_ORACLE,
    "batches": synthetic.BATCHES_ORACLE,
    "variables": synthetic.VARIABLES_ORACLE,
    "tasks": synthetic.TASKS_ORACLE,
}

TPCH_TABLES = {
    "region": "r_regionkey::INTEGER AS r_regionkey, r_name",
    "nation": "n_nationkey::INTEGER AS n_nationkey, n_name, n_regionkey::INTEGER AS n_regionkey",
    "customer": "c_custkey, c_name, c_nationkey::INTEGER AS c_nationkey,"
    " c_acctbal::DOUBLE AS c_acctbal, c_mktsegment",
    "supplier": "s_suppkey, s_name, s_nationkey::INTEGER AS s_nationkey,"
    " s_acctbal::DOUBLE AS s_acctbal",
    "part": "p_partkey, p_name, p_brand, p_type, p_size::INTEGER AS p_size,"
    " p_retailprice::DOUBLE AS p_retailprice",
    "orders": "o_orderkey, o_custkey, o_orderstatus, o_totalprice::DOUBLE AS o_totalprice,"
    " o_orderdate::TIMESTAMP AS o_orderdate, o_orderpriority",
    "lineitem": "l_orderkey, l_partkey, l_suppkey, l_linenumber::INTEGER AS l_linenumber,"
    " l_quantity::DOUBLE AS l_quantity, l_extendedprice::DOUBLE AS l_extendedprice,"
    " l_discount::DOUBLE AS l_discount, l_tax::DOUBLE AS l_tax, l_returnflag,"
    " l_linestatus, l_shipdate::TIMESTAMP AS l_shipdate",
}

_VALUE_FIELDS = (
    ("bpmnProcessId", "bpmn_process_id"),
    ("processInstanceKey", "process_instance_key"),
    ("processDefinitionKey", "process_definition_key"),
    ("parentProcessInstanceKey", "parent_process_instance_key"),
    ("bpmnElementType", "bpmn_element_type"),
    ("elementId", "element_id"),
    ("name", "name"),
    ("type", "job_type"),
    ("value", "value"),
)
_ENVELOPE_FIELDS = (
    ("partitionId", "partition_id"),
    ("position", "position"),
    ("key", "key"),
    ("timestamp", "timestamp"),
    ("recordType", "record_type"),
    ("valueType", "value_type"),
    ("intent", "intent"),
)


def _json_fields(fields) -> str:
    # concat_ws skips NULL arguments, so absent fields are omitted exactly
    # like a broker payload omits them
    return "concat_ws(',', " + ", ".join(
        f"'\"{k}\":' || to_json({c})" for k, c in fields
    ) + ")"


ENVELOPE_SQL = (
    "'{' || "
    + _json_fields(_ENVELOPE_FIELDS)
    + " || ',\"value\":{' || "
    + _json_fields(_VALUE_FIELDS)
    + " || '}}'"
)


def connect() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    # never reach for the network: tpch is bundled with the wheel
    con.execute("SET autoinstall_known_extensions = false")
    con.execute("SET autoload_known_extensions = false")
    con.execute("LOAD tpch")
    return con


def make_dataset(
    con: duckdb.DuckDBPyConnection,
    out_dir: str,
    sf: float,
    orders_frac: float,
    seed: int,
    tenant_weights: tuple[float, float, float] | None = None,
) -> None:
    """Write the TPC-H tables of scale ``sf`` to ``out_dir/<t>.parquet``
    with ``orders`` (and its ``lineitem`` rows) cut to a seeded subset of
    ``orders_frac`` of its rows, and register every table as a DuckDB view.

    ``tenant_weights`` rewrites ``o_custkey`` so that the synthetic tenant
    (``'tn' || o_custkey % 3``) follows the given shares instead of the
    uniform TPC-H spread."""
    os.makedirs(out_dir, exist_ok=True)
    con.execute(f"CALL dbgen(sf={sf}, suffix='_src')")
    # an exact count, so every seed has the same input size
    (n_all,) = con.execute("SELECT count(*) FROM orders_src").fetchone()
    n = max(1, round(orders_frac * n_all))
    custkey = "o_custkey"
    if tenant_weights is not None:
        w0, w1, _ = tenant_weights
        u = f"(hash(o_orderkey, {int(seed)}, 'tenant') % 1000000) / 1e6"
        t = f"(CASE WHEN {u} < {w0} THEN 0 WHEN {u} < {w0 + w1} THEN 1 ELSE 2 END)"
        custkey = f"(o_custkey - o_custkey % 3 + {t})"
    con.execute(
        f"CREATE OR REPLACE TABLE orders_src2 AS SELECT * REPLACE ({custkey} AS o_custkey)"
        f" FROM orders_src ORDER BY hash(o_orderkey, {int(seed)}) LIMIT {n}"
    )
    for t, cols in TPCH_TABLES.items():
        src = {"orders": "orders_src2"}.get(t, f"{t}_src")
        where = (
            " WHERE l_orderkey IN (SELECT o_orderkey FROM orders_src2)"
            if t == "lineitem"
            else ""
        )
        path = os.path.join(out_dir, f"{t}.parquet")
        con.execute(
            f"COPY (SELECT {cols} FROM {src}{where}) TO '{path}' (FORMAT parquet)"
        )
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{path}')"
        )


def make_clickstream(
    con: duckdb.DuckDBPyConnection, out_dir: str, rows: int, seed: int
) -> None:
    """The ``events`` click-stream table (the repo's test-table shape: 150
    users, five event types, one month, event ids in time order)."""
    s = int(seed)
    path = os.path.join(out_dir, "events.parquet")
    con.execute(
        f"""
        COPY (
          SELECT row_number() OVER (ORDER BY ts, i) - 1 AS event_id, ts, user_id,
                 event_type, value, props
          FROM (
            SELECT i,
                   TIMESTAMP '2024-01-01' + to_microseconds(
                     (hash(i, {s}, 'ts') % 2592000000000)::BIGINT) AS ts,
                   (hash(i, {s}, 'user') % 150)::BIGINT AS user_id,
                   ['click', 'signup', 'error', 'view', 'purchase']
                     [1 + (hash(i, {s}, 'type') % 5)::INTEGER] AS event_type,
                   round(0.01 + (hash(i, {s}, 'value') % 50000)::DOUBLE / 100, 2) AS value,
                   '{{"k": ' || (hash(i, {s}, 'k') % 100)::VARCHAR || '}}' AS props
            FROM range({int(rows)}) t(i)
          )
        ) TO '{path}' (FORMAT parquet)
        """
    )
    con.execute(f"CREATE OR REPLACE VIEW events AS SELECT * FROM read_parquet('{path}')")


#: The word list of the repo's synthetic text corpus.
WORDS = (
    "a agg batch big column customer data dup fast filter group hash join key line"
    " merge order part query row scan slow small sort spark stream table the value"
    " vector window"
).split()


def make_documents(
    con: duckdb.DuckDBPyConnection, out_dir: str, rows: int, seed: int
) -> None:
    """The ``documents`` text table (the repo's test-table shape: 10-99
    words from the corpus word list, five languages, 20 sources)."""
    s = int(seed)
    words = "[" + ", ".join(f"'{w}'" for w in WORDS) + "]"
    path = os.path.join(out_dir, "documents.parquet")
    con.execute(
        f"""
        COPY (
          SELECT doc_id, text, lang, source, length(text)::BIGINT AS n_chars
          FROM (
            SELECT i AS doc_id,
                   string_agg({words}[1 + (hash(i, j, {s}, 'w') % {len(WORDS)})::INTEGER],
                              ' ' ORDER BY j) AS text,
                   ['en', 'en', 'en', 'zh', 'de', 'fr', 'es']
                     [1 + (hash(i, {s}, 'lang') % 7)::INTEGER] AS lang,
                   'src' || (i % 20)::VARCHAR AS source
            FROM range({int(rows)}) t(i), range(99) r(j)
            WHERE j < 10 + hash(i, {s}, 'n') % 90
            GROUP BY i
          )
          ORDER BY doc_id
        ) TO '{path}' (FORMAT parquet)
        """
    )
    con.execute(f"CREATE OR REPLACE VIEW documents AS SELECT * FROM read_parquet('{path}')")


def make_zeebe_events(con: duckdb.DuckDBPyConnection) -> None:
    """Table ``zeebe_events``: the flat event corpus over ``orders``."""
    con.execute(
        "CREATE OR REPLACE TABLE zeebe_events AS WITH "
        + synthetic.derivation_sql("duckdb")
        + " SELECT * FROM zeebe_events"
    )


def write_envelopes(
    con: duckdb.DuckDBPyConnection, out_dir: str, shares: list[float]
) -> list[str]:
    """Render ``zeebe_events`` as envelope JSON lines into contiguous
    slices of the global (timestamp, position) order, one file per share,
    sized in proportion to the shares; returns the paths, oldest first."""
    os.makedirs(out_dir, exist_ok=True)
    rows = con.execute(
        f"SELECT {ENVELOPE_SQL} FROM zeebe_events ORDER BY timestamp, position"
    ).fetchall()
    paths, lo, acc = [], 0, 0.0
    for i, share in enumerate(shares):
        acc += share
        hi = round(len(rows) * acc / sum(shares))
        path = os.path.join(out_dir, f"envelopes-{i:03d}.jsonl")
        with open(path, "w") as f:
            f.writelines(r[0] + "\n" for r in rows[lo:hi])
        paths.append(path)
        lo = hi
    return paths


def input_shape(con: duckdb.DuckDBPyConnection, paths: list[str]) -> dict:
    """Envelope count and bytes plus the measured shares of the corpus
    features the import semantics depend on."""
    n, c5, links, d1, d2 = con.execute(
        """
        SELECT count(*),
               count(*) FILTER (WHERE bpmn_process_id = ''),
               count(*) FILTER (WHERE parent_process_instance_key > 0),
               count(*) FILTER (WHERE value_type = 'VARIABLE')
                 - (SELECT count(*) FROM (SELECT DISTINCT process_instance_key, name, timestamp
                    FROM zeebe_events WHERE value_type = 'VARIABLE')),
               count(*) FILTER (WHERE value_type = 'JOB')
                 - (SELECT count(*) FROM (SELECT DISTINCT process_instance_key, element_id, intent
                    FROM zeebe_events WHERE value_type = 'JOB'))
        FROM zeebe_events
        """
    ).fetchone()
    tenants = con.execute(
        "SELECT 'tn' || CAST(o_custkey % 3 AS VARCHAR) AS t, count(*) FROM orders"
        " GROUP BY 1 ORDER BY 1"
    ).fetchall()
    orders = sum(c for _, c in tenants)
    return {
        "envelopes": n,
        "bytes": sum(os.path.getsize(p) for p in paths),
        "c5_empty_bpmn": round(c5 / n, 4),
        "call_activity_links": round(links / n, 4),
        "d1_duplicates": round(d1 / n, 4),
        "d2_duplicates": round(d2 / n, 4),
        "tenants": {t: round(c / orders, 4) for t, c in tenants},
    }


def oracle_tables(con: duckdb.DuckDBPyConnection) -> None:
    """Materialize the five expected tables as ``want_<name>``."""
    for name, sql in ORACLES.items():
        con.execute(f"CREATE OR REPLACE TABLE want_{name} AS {sql}")


def generate(spec: dict) -> dict:
    """Write every input of one run as ``spec`` asks; returns the input
    shape plus the envelope count of each envelope file.

    ``spec``: ``seed``, ``sf``, ``orders_frac``, ``tenants`` (weights or
    null), ``data`` (the registry's table directory), ``oracle`` (tables
    only the checks read), and optionally ``clickstream`` and
    ``documents`` (row counts) and ``envelopes`` (directory) with
    ``envelope_shares``."""
    con = connect()
    data = spec["data"]
    make_dataset(con, data, spec["sf"], spec["orders_frac"], spec["seed"], spec["tenants"])
    if spec.get("clickstream"):
        make_clickstream(con, data, spec["clickstream"], spec["seed"])
    if spec.get("documents"):
        make_documents(con, data, spec["documents"], spec["seed"])
    make_zeebe_events(con)
    os.makedirs(spec["oracle"], exist_ok=True)
    con.execute(
        f"COPY zeebe_events TO '{spec['oracle']}/zeebe_events.parquet' (FORMAT parquet)"
    )
    paths = []
    if spec.get("envelopes"):
        paths = write_envelopes(con, spec["envelopes"], spec["envelope_shares"])
    shape = input_shape(
        con, paths or [os.path.join(data, f) for f in sorted(os.listdir(data))]
    )
    shape["envelopes_per_file"] = [sum(1 for _ in open(p)) for p in paths]
    return shape


def generate_in_child(spec: dict) -> dict:
    """``generate(spec)`` in a child process, which has exited on return."""
    out = subprocess.run(
        [sys.executable, os.path.abspath(__file__), json.dumps(spec)],
        check=True, capture_output=True, text=True,
    )
    return json.loads(out.stdout.strip().splitlines()[-1])


def open_views(*dirs: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with a view over every ``<t>.parquet`` in
    ``dirs``, named ``t``."""
    con = connect()
    for d in dirs:
        for f in sorted(os.listdir(d)):
            if f.endswith(".parquet"):
                path = os.path.join(d, f)
                con.execute(
                    f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{path}')"
                )
    return con


if __name__ == "__main__":
    print(json.dumps(generate(json.loads(sys.argv[1]))))
