"""Seeded input generator for the benchmark.

Everything the program reads in a benchmark run is written here, from
``--seed`` alone: the same seed gives byte-identical files. The generator
runs in its own process so its memory and time stay out of the measured
Spark driver process.

Two kinds of input:

- a TPC-H-shaped star schema (``tables/*.parquet``) with the column names
  and types the registry queries read; uniform keys like the repository's
  test fixtures, plus near-duplicate documents and clustered embeddings so
  the dedup and k-means operators have work to find;
- document collections for the ETL workloads, derived from the ``orders``,
  ``customer`` and ``lineitem`` rows, with planted missing, null and
  uncastable attributes (and, in the line-delimited form, malformed
  lines). ``truth.json`` records what was planted and the ``summary()``
  counts a correct run must report.

    python3 perfbench/gen.py --kind etl_json --seed 1 --sf 0.002 --out DIR
"""

from __future__ import annotations

import argparse
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# mapping config of the ETL workloads: collection -> target table, object
# id and mapped attributes (source attr -> (column, logical type))
MAPPING = {
    "orders": {
        "target_table": "public.orders",
        "object_id_attribute": "o_orderkey",
        "mappings": {
            "o_orderkey": {"column": "order_id", "type": "bigint"},
            "o_custkey": {"column": "customer_id", "type": "bigint"},
            "o_orderstatus": {"column": "status_code", "type": "text"},
            "o_totalprice": {"column": "total_price", "type": "double"},
            "o_orderdate": {"column": "order_date", "type": "date"},
            "o_orderpriority": {"column": "priority", "type": "text"},
        },
    },
    "customer": {
        "target_table": "public.customer",
        "object_id_attribute": "c_custkey",
        "mappings": {
            "c_custkey": {"column": "customer_id", "type": "bigint"},
            "c_name": {"column": "name", "type": "text"},
            "c_nationkey": {"column": "nation_id", "type": "integer"},
            "c_acctbal": {"column": "account_balance", "type": "double"},
            "c_mktsegment": {"column": "segment", "type": "text"},
        },
    },
    "lineitem": {
        "target_table": "public.lineitem",
        "mappings": {
            "l_orderkey": {"column": "order_id", "type": "bigint"},
            "l_linenumber": {"column": "line_no", "type": "integer"},
            "l_partkey": {"column": "part_id", "type": "bigint"},
            "l_quantity": {"column": "quantity", "type": "double"},
            "l_extendedprice": {"column": "extended_price", "type": "double"},
            "l_discount": {"column": "discount", "type": "double"},
            "l_shipdate": {"column": "ship_date", "type": "date"},
            "l_returnflag": {"column": "return_flag", "type": "text"},
        },
    },
}

# planted-anomaly rates per document (mutually exclusive per document)
P_MISSING = 0.02
P_NULL = 0.02
P_UNCASTABLE = 0.015
MALFORMED_EVERY = 1000  # line-delimited input only: ~1 line in 1,000
BAD_VALUE = {"bigint": "n/a", "integer": "n/a", "double": "n/a", "date": "not-a-date"}

WORDS = ("spark batch part line column order small sort fast value scan hash "
         "slow group agg filter query big key window row table stream merge "
         "data join vector customer the a").split()
LANGS = ("en", "en", "en", "de", "fr", "es", "zh")
EPOCH = np.datetime64("1992-01-01", "D")


def _counts(sf: float) -> dict[str, int]:
    return {
        "customer": max(int(150000 * sf), 20),
        "supplier": max(int(10000 * sf), 10),
        "part": max(int(200000 * sf), 50),
        "orders": max(int(1500000 * sf), 100),
        "documents": max(int(50000 * sf), 60),
        "embeddings": min(max(int(50000 * sf), 60), 2000),
    }


def star_tables(rng: np.random.Generator, sf: float) -> dict[str, pa.Table]:
    """TPC-H-shaped tables with the fixture schema (FIXTURES.md)."""
    n = _counts(sf)
    days = lambda k: (EPOCH + rng.integers(0, 3650, k)).astype("datetime64[us]")  # noqa: E731
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    nc = n["customer"]
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, nc), 2),
        "c_mktsegment": rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], nc),
    })
    ns = n["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, ns), 2),
    })
    npart = n["part"]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(npart), pa.int64()),
        "p_name": [" ".join(rng.choice(WORDS, 2)) for _ in range(npart)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
        "p_type": rng.choice(["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"], npart),
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": np.round(900.0 + np.arange(npart) % 1000 * 0.1, 2),
    })
    no = n["orders"]
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], no),
        "o_totalprice": np.round(rng.uniform(900.0, 450000.0, no), 2),
        "o_orderdate": pa.array(days(no), pa.timestamp("us")),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], no),
    })
    nl = 4 * no
    qty = rng.integers(1, 51, nl).astype(float)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2000.0, nl), 2),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], nl),
        "l_linestatus": rng.choice(["O", "F"], nl),
        "l_shipdate": pa.array(days(nl), pa.timestamp("us")),
    })
    nd = n["documents"]
    texts: list[str] = []
    for i in range(nd):
        if i > 10 and rng.random() < 0.1:  # near-duplicate of an earlier document
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = str(rng.choice(WORDS))
            texts.append(" ".join(words + ["dup"]))
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(8, 100)))))
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(nd), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, nd),
        "source": [f"src{s}" for s in rng.integers(0, 20, nd)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64()),
    })
    ne = n["embeddings"]
    centers = rng.normal(0.0, 1.0, (10, 64))
    labels = rng.integers(0, 10, ne)
    vecs = (centers[labels] + rng.normal(0.0, 0.6, (ne, 64))) * 0.1
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(ne), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return t


def _columns(tbl: pa.Table) -> dict[str, list]:
    """Column name -> JSON-ready values (timestamps as ISO dates)."""
    out = {}
    for name in tbl.column_names:
        col = tbl.column(name)
        if pa.types.is_timestamp(col.type):
            out[name] = np.datetime_as_string(col.to_numpy(), unit="D").tolist()
        else:
            out[name] = col.to_pylist()
    return out


def documents(rng: np.random.Generator, tables: dict[str, pa.Table],
              malformed: bool):
    """Yield (collection, line, kind) for every ETL document, in order.

    ``kind`` is the planted anomaly: ``ok``, ``missing``, ``null``,
    ``uncastable`` or ``malformed`` (line-delimited input only)."""
    for coll, spec in MAPPING.items():
        attrs = list(spec["mappings"])
        idattr = spec.get("object_id_attribute")
        plantable = [a for a in attrs if a != idattr]
        castable = [a for a in plantable if spec["mappings"][a]["type"] in BAD_VALUE]
        cols = _columns(tables[coll])
        names = list(cols)
        n = tables[coll].num_rows
        draws = rng.random(n)
        picks = rng.integers(0, 1 << 30, n)
        for i, values in enumerate(zip(*cols.values())):
            doc = dict(zip(names, values))
            r, pick = draws[i], int(picks[i])
            if malformed and i % MALFORMED_EVERY == MALFORMED_EVERY // 2:
                line = json.dumps(doc)
                yield coll, line[: len(line) // 2], "malformed"
                continue
            if r < P_MISSING:
                del doc[plantable[pick % len(plantable)]]
                kind = "missing"
            elif r < P_MISSING + P_NULL:
                doc[plantable[pick % len(plantable)]] = None
                kind = "null"
            elif r < P_MISSING + P_NULL + P_UNCASTABLE:
                a = castable[pick % len(castable)]
                doc[a] = BAD_VALUE[spec["mappings"][a]["type"]]
                kind = "uncastable"
            else:
                kind = "ok"
            yield coll, json.dumps(doc), kind


def _truth(kinds: dict[str, dict[str, int]]) -> dict:
    per = {}
    for coll, k in kinds.items():
        docs = sum(k.values())
        errors = k["uncastable"] + k["malformed"]
        per[coll] = {"documents": docs, "errors": errors,
                     "missing_col_docs": k["missing"], **k}
    total = sum(p["documents"] for p in per.values())
    errors = sum(p["errors"] for p in per.values())
    return {
        "collections": per,
        "summary": {
            "total_documents": total,
            "successful_documents": total - errors,
            "documents_with_errors": errors,
            "documents_with_missing_columns": sum(p["missing"] for p in per.values()),
            "insert_failures": 0,
            "missing_collections": [],
            "unmapped_collections": [],
            "missing_tables_input": [],
            "missing_tables_db": [],
            "object_statuses": {s["target_table"]: "NEW" for s in
                                sorted(MAPPING.values(), key=lambda s: s["target_table"])},
            "per_collection": {c: {"processed": p["documents"], "errors": p["errors"]}
                               for c, p in per.items()},
            "rename_maps": {},
        },
    }


def write_etl(out: str, rng: np.random.Generator, sf: float, jsonl: bool) -> dict:
    """ETL input: one multi-collection JSON file (``jsonl=False``) or one
    line-delimited file per collection with malformed lines planted."""
    tables = star_tables(rng, sf)
    kinds = {c: dict.fromkeys(("ok", "missing", "null", "uncastable", "malformed"), 0)
             for c in MAPPING}
    with open(os.path.join(out, "mapping.json"), "w", encoding="utf-8") as fh:
        json.dump({"collections": MAPPING}, fh)
    if jsonl:
        handles = {c: open(os.path.join(out, f"{c}.jsonl"), "w", encoding="utf-8")
                   for c in MAPPING}
        try:
            for coll, line, kind in documents(rng, tables, malformed=True):
                handles[coll].write(line + "\n")
                kinds[coll][kind] += 1
        finally:
            for h in handles.values():
                h.close()
    else:
        parts: dict[str, list[str]] = {c: [] for c in MAPPING}
        for coll, line, kind in documents(rng, tables, malformed=False):
            parts[coll].append(line)
            kinds[coll][kind] += 1
        with open(os.path.join(out, "input.json"), "w", encoding="utf-8") as fh:
            fh.write("{" + ", ".join(
                f"{json.dumps(c)}: [" + ", ".join(docs) + "]" for c, docs in parts.items()
            ) + "}")
    return _truth(kinds)


def write_tables(out: str, rng: np.random.Generator, sf: float) -> dict:
    tables = star_tables(rng, sf)
    os.makedirs(os.path.join(out, "tables"), exist_ok=True)
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out, "tables", f"{name}.parquet"))
    return {"rows": {name: tbl.num_rows for name, tbl in tables.items()}}


def generate(kind: str, seed: int, sf: float, out: str) -> dict:
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    if kind == "tables":
        truth = write_tables(out, rng, sf)
    else:
        truth = write_etl(out, rng, sf, jsonl=(kind == "etl_jsonl"))
    truth.update(kind=kind, seed=seed, sf=sf)
    with open(os.path.join(out, "truth.json"), "w", encoding="utf-8") as fh:
        json.dump(truth, fh, indent=1, sort_keys=True)
    return truth


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--kind", required=True, choices=["etl_json", "etl_jsonl", "tables"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--sf", type=float, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    generate(args.kind, args.seed, args.sf, args.out)


if __name__ == "__main__":
    main()
