"""Generated `pages` inputs, cached per (seed, rows).

Rows come from `datagen.generate_pages_batch`, the generator
`datagen.write_pages` runs on executors. Here one interpreter per part
writes them before the Spark session does any work; this module imports
only what generation needs, so those interpreters start quickly.

    python3 perfbench/inputs.py <part.parquet> <first_id> <end_id> <seed>
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from eventanalysis_spark import datagen


def write_part(path: str, lo: int, hi: int, seed: int) -> None:
    pdf = datagen.generate_pages_batch(np.arange(lo, hi), seed)
    tbl = pa.Table.from_pandas(pdf, preserve_index=False)
    # UTC-adjusted micros: read back by Spark as TIMESTAMP, like write_pages
    ts = tbl.column("warc_ts").cast(pa.timestamp("us")).cast(pa.timestamp("us", tz="UTC"))
    tbl = tbl.set_column(tbl.schema.get_field_index("warc_ts"), "warc_ts", ts)
    pq.write_table(tbl, path)


def pages_input(inputs_dir: str, seed: int, n_rows: int, parts: int) -> str:
    """Directory of the pages table for (seed, n_rows), written if absent."""
    path = os.path.join(inputs_dir, f"pages-s{seed}-n{n_rows}")
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        return path
    tmp = path + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    bounds = [n_rows * i // parts for i in range(parts + 1)]
    # plain subprocesses: a multiprocessing pool would leave its resource
    # tracker running after the pool closes
    env = {**os.environ, "PYTHONPATH": os.pathsep.join(sys.path)}
    procs = [subprocess.Popen([sys.executable, os.path.abspath(__file__),
                               os.path.join(tmp, f"part-{i:05d}.parquet"),
                               str(bounds[i]), str(bounds[i + 1]), str(seed)], env=env)
             for i in range(parts)]
    failed = [p.args for p in procs if p.wait() != 0]
    if failed:
        raise RuntimeError(f"input generation failed: {failed}")
    open(os.path.join(tmp, "_SUCCESS"), "w").close()
    shutil.rmtree(path, ignore_errors=True)
    os.replace(tmp, path)
    return path


if __name__ == "__main__":
    write_part(sys.argv[1], int(sys.argv[2]), int(sys.argv[3]), int(sys.argv[4]))
