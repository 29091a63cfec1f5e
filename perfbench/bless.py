#!/usr/bin/env python3
"""Rebuild ``perfbench/reference.json``: the row count and digest of
every workload query on the tables in ``perfbench/data``, at each
scale, and the set of documents the ingest path accepts.

A query's reference is written only when its Spark rows hash-match the
DuckDB oracle under the differential rules of ``tools/verify_local.py``
and its digest repeats on a second, memo-warm call. An ingest reference
is the [count, digest] of the accepted doc ids after the seed batch
(every tiny document) and after one measured batch on top of it; it is
written only when two arrival orders accept the same set. Run it from
the repository root after changing the tables, a workload list or the
ingest batch:

    python3 perfbench/bless.py
"""

from __future__ import annotations

import json
import shutil
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from perfbench.run import (  # noqa: E402
    DATA, HERE, INGEST, INGEST_BATCH_DOCS, INGEST_ID_OFFSET, ROOT, SCALES, WORKLOADS,
    accepted_ids, digest_frame, fresh_copy, id_set_digest, ingest_vocab, open_oracle,
    oracle_match, pin_environment, write_ingest_batch,
)

ORDERS = (1, 2)  # two arrival orders of every ingest batch


def bless_queries(spark, work: Path, bad: list) -> dict:
    from redshells_spark.queries import get_queries

    queries = get_queries()
    names = sorted({n for steps in WORKLOADS.values() for n in steps if n != INGEST})
    reference: dict[str, dict[str, list]] = {}
    for scale, sf_dir in SCALES.items():
        data = fresh_copy(DATA / sf_dir, work / "data" / scale)
        con = open_oracle(data)
        for name in names:
            digests = [tuple(digest_frame(queries[name](spark, data)).collect()[0]) for _ in range(2)]
            rows = oracle_match(queries[name](spark, data), con, name)
            ok = digests[0] == digests[1] and rows == digests[0][0]
            print(f"{scale:6s} {name:32s} {'MATCH' if ok else 'FAIL '} {rows} rows", flush=True)
            if ok:
                reference.setdefault(scale, {})[name] = [digests[0][0], str(digests[0][1])]
            else:
                bad.append((scale, name))
        con.close()
    return reference


def bless_ingest(spark, work: Path, bad: list) -> dict:
    from redshells_spark.streaming.ingest import CorpusIngest

    vocab = ingest_vocab(spark)

    def ingest(batch: Path, state: Path, batch_id: int) -> list:
        CorpusIngest(base_path=str(state), vocab=vocab).process_batch(spark.read.parquet(str(batch)), batch_id)
        return id_set_digest(accepted_ids(spark, str(state)))

    def agreed(label: str, results: list) -> list:
        print(f"ingest {label:25s} {'MATCH' if results[0] == results[1] else 'FAIL '} {results}", flush=True)
        if results[0] != results[1]:
            bad.append(("ingest", label))
        return results[0]

    seeded = []
    for order in ORDERS:
        batch = work / "ingest" / f"seed-{order}.parquet"
        write_ingest_batch(DATA / SCALES["tiny"] / "documents.parquet", batch, order, None, 0)
        seeded.append(ingest(batch, work / "state" / f"seed-{order}", 0))
    reference = {"seed": agreed("seed", seeded)}
    for scale, sf_dir in SCALES.items():
        after = []
        for order in ORDERS:
            batch = work / "ingest" / f"{scale}-{order}.parquet"
            write_ingest_batch(DATA / sf_dir / "documents.parquet", batch, order, INGEST_BATCH_DOCS, INGEST_ID_OFFSET)
            state = fresh_copy(work / "state" / f"seed-{ORDERS[0]}", work / "state" / f"{scale}-{order}")
            after.append(ingest(batch, Path(state), 1))
        reference[scale] = agreed(scale, after)
    return reference


def main() -> int:
    work = ROOT / ".bench_build" / "perfbench" / "bless"
    shutil.rmtree(work, ignore_errors=True)
    pin_environment(work)
    from redshells_spark import get_spark_session

    spark = get_spark_session("perfbench-bless")
    spark.sparkContext.setLogLevel("ERROR")
    bad: list = []
    reference = {"queries": bless_queries(spark, work, bad), "ingest": bless_ingest(spark, work, bad)}
    spark.stop()
    shutil.rmtree(work, ignore_errors=True)
    if bad:
        print(f"not written: {bad}", file=sys.stderr)
        return 1
    (HERE / "reference.json").write_text(json.dumps(reference, indent=1, sort_keys=True) + "\n")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
