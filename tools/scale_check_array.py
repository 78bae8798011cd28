"""Array-engine scaling harness: how do ingest and scan wall times grow
with chunk count?

The reference defines exactly ONE perf shape (resources/performance.json:
400x600x900 short, 30^3 chunks = 8,400 chunks, 412 MiB).  This harness
runs the same shape at 1x/2x/4x the t extent (8,400 / 16,800 / 33,600
chunks; 412 MiB / 824 MiB / 1.65 GiB) and times:

- **ingest_aligned**: chunk-aligned executor-generated pieces through
  the zero-shuffle write path (dedup + chunk store + index commit);
- **distributed full scan**: decode every chunk executor-side, reduce
  count+checksum JVM-side — the no-driver-funnel shape a 100 TB scan
  uses (the driver get_slice funnel is the reference's contract for
  interactive reads, not for scans, and is bounded by driver memory —
  deliberately not scaled here);
- **ten random 10^3-cell slice reads**: the index-pruned interactive
  path whose cost should track the SLICE, not the corpus.

Round-8 findings (local[32], /tmp store, best-of-2; re-measured after
the late-r8 read-path work): ingest 2.9 s / 3.0 s / 4.3 s (1x / 1.0x /
1.5x at 4x the bytes — SUBLINEAR: the fixed commit/planning cost
amortizes and the write path is embarrassingly parallel), distributed
scan 1.8 s / 2.6 s / 4.9 s (1x / 1.4x / 2.7x — tracks bytes once the
fixed cost amortizes), ten slice reads ~3 s FLAT across all three
corpus sizes on the pure-distributed path measured here (cache
wrappers off: every read pays its Spark jobs; pruned-index reads
scale with the request, not the corpus).  With the reference's
read-through cache stack on (``cache_reads=True``) the same ten cold
reads measure 0.15 s on a local store — driver-side footer-bounded
index + point blob fetch, zero Spark jobs (bench.py
``arr_read_slices_x10``).  Sublinear-in-bytes bulk paths +
corpus-independent point reads are exactly the two properties a
1000-executor deployment needs.  Since then the driver-side tier no
longer needs ``cache_reads``: on a local store the cache-off slice
reads are job-free too, so the distributed-path figure above now needs
a remote root or ``blob_local_fetch_max_bytes=0`` to reproduce.

Usage: PYTHONPATH=<repo> python tools/scale_check_array.py
"""
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

import numpy as np  # noqa: E402
import pandas as pd  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from mandoline_spark import reader, writer  # noqa: E402
from mandoline_spark.core import slab as sb  # noqa: E402
from mandoline_spark.core import slice as sl  # noqa: E402
from mandoline_spark.sources.session import get_spark  # noqa: E402
from mandoline_spark.store import Store  # noqa: E402

X, Y, C = 400, 600, 30
T_BASE = 900


def pieces_df(spark, T):
    coords = [
        (cx, cy, ct)
        for cx in range(-(-X // C))
        for cy in range(-(-Y // C))
        for ct in range(-(-T // C))
    ]
    cdf = spark.createDataFrame(
        pd.DataFrame(coords, columns=["c0", "c1", "c2"])
    ).repartition(32)

    def gen(batches):
        base = np.arange(C, dtype=np.int64)
        for pdf in batches:
            rows = []
            for r in pdf.itertuples():
                c0, c1, c2 = int(r.c0), int(r.c1), int(r.c2)
                a = (
                    (
                        ((c0 * C + base) * 7)[:, None, None]
                        + ((c1 * C + base) * 3)[None, :, None]
                        + (c2 * C + base)[None, None, :]
                    )
                    % 1000
                ).astype("<i2")
                if (c0 + 1) * C > X:
                    a[X - c0 * C :, :, :] = -3
                rows.append(
                    {
                        "ckey": f"{c0}_{c1}_{c2}",
                        "c0": c0,
                        "c1": c1,
                        "c2": c2,
                        "ord": 0,
                        "pstart": [c0 * C, c1 * C, c2 * C],
                        "pstop": [
                            (c0 + 1) * C,
                            (c1 + 1) * C,
                            (c2 + 1) * C,
                        ],
                        "data": a.tobytes(),
                    }
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "ckey", "c0", "c1", "c2", "ord", "pstart", "pstop",
                    "data",
                ],
            )

    return cdf.mapInPandas(gen, writer.piece_schema(3))


def main() -> None:
    spark = get_spark()
    root = tempfile.mkdtemp(prefix="mandoline_scale_arr")
    store = Store(spark, root)
    rng = np.random.default_rng(42)

    for mult in (1, 2, 4):
        T = T_BASE * mult
        spec = {
            "dimensions": {"x": X, "y": Y, "t": T},
            "chunk-dimensions": {"x": C, "y": C, "t": C},
            "variables": {
                "v": {
                    "type": "short",
                    "shape": ["x", "y", "t"],
                    "fill-value": -3,
                }
            },
        }
        pieces = pieces_df(spark, T)
        ingests = []
        conn = None
        for i in range(2):
            if conn is not None:
                store.destroy_dataset(conn.name)
            conn = store.create_dataset(f"scale{mult}_{i}")
            tok = conn.add_version(spec)
            spark.sparkContext._jvm.System.gc()
            t0 = time.perf_counter()
            writer.ingest_aligned(conn, tok, "v", pieces)
            conn.finish_version(tok)
            ingests.append(time.perf_counter() - t0)
        n_chunks = (-(-X // C)) * (-(-Y // C)) * (-(-T // C))
        print(
            f"x{mult} chunks={n_chunks} ingest={min(ingests):.3f}s",
            flush=True,
        )

        token = reader.on_last_version(conn)
        vid = token["version-id"]
        idx = conn.resolve_index_df(vid, "v")
        joined = idx.select("c0", "c1", "c2", "chunk_hash").join(
            conn.chunks_df()
            .select(F.col("hash").alias("chunk_hash"), "blob")
            .hint("shuffle_hash"),
            "chunk_hash",
        )

        def chunk_stats(batches):
            for pdf in batches:
                ns, sums = [], []
                for r in pdf.itertuples():
                    lo = (int(r.c0) * C, int(r.c1) * C, int(r.c2) * C)
                    slab = sb.from_bytes(
                        bytes(r.blob),
                        "short",
                        sl.mk_slice(lo, tuple(v + C for v in lo)),
                    )
                    ns.append(slab.data.size)
                    sums.append(int(slab.data.sum()))
                yield pd.DataFrame({"n": ns, "s": sums})

        def dist_scan() -> float:
            t0 = time.perf_counter()
            row = (
                joined.mapInPandas(chunk_stats, "n long, s long")
                .agg(F.sum("n").alias("n"), F.sum("s").alias("s"))
                .collect()[0]
            )
            dt = time.perf_counter() - t0
            assert row["n"] == n_chunks * C * C * C, row
            return dt

        print(
            f"x{mult} dist_scan={min(dist_scan(), dist_scan()):.3f}s",
            flush=True,
        )

        def ten_slices() -> float:
            conn.invalidate_cache()
            t0 = time.perf_counter()
            for _ in range(10):
                lo = (
                    int(rng.integers(0, X - 10)),
                    int(rng.integers(0, Y - 10)),
                    int(rng.integers(0, T - 10)),
                )
                out = reader.get_slice(
                    conn,
                    token,
                    "v",
                    sl.mk_slice(lo, tuple(v + 10 for v in lo)),
                )
                assert out.data.shape == (10, 10, 10)
            return time.perf_counter() - t0

        print(
            f"x{mult} ten_slices={min(ten_slices(), ten_slices()):.3f}s",
            flush=True,
        )
        store.destroy_dataset(conn.name)


if __name__ == "__main__":
    main()
