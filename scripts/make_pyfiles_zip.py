#!/usr/bin/env python
"""Package cuckoofilter_spark for spark-submit --py-files.

Usage:
    python scripts/make_pyfiles_zip.py [out.zip]
    spark-submit --master <cluster> \\
        --py-files cuckoofilter_spark.zip \\
        --conf spark.sql.shuffle.partitions=<4x total cores> \\
        --conf spark.sql.adaptive.enabled=true \\
        --conf spark.sql.execution.arrow.pyspark.enabled=true \\
        --conf spark.sql.execution.arrow.maxRecordsPerBatch=8192 \\
        --conf spark.sql.parquet.columnarReaderBatchSize=256 \\
        your_job.py

The zip contains only the library (no tests/bench); executors import
``cuckoofilter_spark`` from it. Deterministic output: files are added
in sorted order with zeroed timestamps, so re-packaging an unchanged
tree yields a byte-identical zip (useful for cache keys).
"""

from __future__ import annotations

import pathlib
import sys
import zipfile

ROOT = pathlib.Path(__file__).resolve().parent.parent
PKG = ROOT / "cuckoofilter_spark"


def main(out: str = "cuckoofilter_spark.zip", quiet: bool = False) -> None:
    out_path = pathlib.Path(out)
    with zipfile.ZipFile(out_path, "w", zipfile.ZIP_DEFLATED) as z:
        for p in sorted(PKG.rglob("*.py")):
            rel = p.relative_to(ROOT)
            info = zipfile.ZipInfo(str(rel), date_time=(1980, 1, 1, 0, 0, 0))
            info.external_attr = 0o644 << 16
            z.writestr(info, p.read_bytes())
    if not quiet:
        print(f"wrote {out_path} ({out_path.stat().st_size} bytes)")


if __name__ == "__main__":
    main(*sys.argv[1:2])
