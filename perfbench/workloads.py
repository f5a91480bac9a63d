"""The benchmark's workloads: named slot lists over the engine's
public query entry points, plus the one slot the benchmark composes
itself (``ingest_orc``: ``write_orc`` into a fresh directory, read
back with ``read_orc`` and summed)."""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    slots: tuple[str, ...]
    # tables whose direct catalog.load_table cost is reported
    tables: tuple[str, ...]
    # slots that read the replicated scan lineitem instead of the base
    # tables
    scan_slots: tuple[str, ...] = ()
    # slots whose outputs feed the dedup candidate/pair counters
    dedup_slots: tuple[str, ...] = ()


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "sql_mix",
            (
                "q04_pricing_summary",
                "q08_fact_join_agg",
                "q10_topk",
                "q31_tpch_q3_shipping_priority",
                "q13_window_running_sum",
                "q44_merge_upsert_cdc",
                "q01_flagship_sum",
                "orc_roundtrip_sum",
                "ingest_orc",
            ),
            ("lineitem", "orders", "customer", "supplier", "part", "nation", "region", "events"),
            scan_slots=("q01_flagship_sum", "orc_roundtrip_sum"),
        ),
        Workload(
            "dedup_search",
            (
                "dedup_minhash_lsh",
                "dedup_containment_prefix",
                "ann_cosine_topk_vectorized",
                "orc_roundtrip_sum",
            ),
            ("documents", "embeddings", "lineitem"),
            scan_slots=("orc_roundtrip_sum",),
            dedup_slots=("dedup_minhash_lsh", "dedup_containment_prefix"),
        ),
    )
}


class Ingest:
    """``ingest_orc``: write the base lineitem as reference-parity ORC
    into a fresh directory, read it back and sum the flagship column.
    Its oracle is ``orc_roundtrip_sum``'s over the base tables.

    Planning is loading the source table; the write runs Spark jobs and
    is timed as execution, together with the read-back sum."""

    def __init__(self, base_dir: str, out_root: str) -> None:
        self.base_dir = base_dir
        self.out_root = out_root
        self.n = 0
        self.write_s: list[float] = []
        self.write_mb: list[float] = []

    def prepare(self) -> None:
        """Remove the previous call's output (outside any timing)."""
        shutil.rmtree(self.out_root, ignore_errors=True)
        os.makedirs(self.out_root, exist_ok=True)

    def source(self, spark):
        from pim_orc_spark.catalog import load_table

        return load_table(spark, self.base_dir, "lineitem")

    def write_and_read(self, spark, df):
        """Write ``df`` as ORC, then the read-back sum (lazy)."""
        from pim_orc_spark.functions.numeric import exact_sum
        from pim_orc_spark.sources.orc_io import read_orc, write_orc

        self.n += 1
        path = os.path.join(self.out_root, f"w{self.n}")
        t0 = time.perf_counter()
        write_orc(df, path)
        self.write_s.append(time.perf_counter() - t0)
        self.write_mb.append(
            sum(
                os.path.getsize(os.path.join(d, f))
                for d, _, fs in os.walk(path)
                for f in fs
                if not f.startswith(".")
            )
            / 1e6
        )
        return read_orc(spark, path).agg(exact_sum("l_extendedprice", "sum_price"))
