"""Package kiwi_spark for cluster submission.

Builds a ``kiwi_spark.zip`` suitable for ``spark-submit --py-files`` (the
north-star deployment shape: the job file ships alone, the library rides
the zip to the driver and every executor):

    python tools/make_pyfiles.py [out.zip]
    spark-submit --master <cluster> --py-files kiwi_spark.zip \\
        --conf spark.driver.defaultJavaOptions=-XX:TieredStopAtLevel=1 \\
        jobs/run_pipeline.py --input s3://…/pages --warehouse s3://…/wh

Only ``kiwi_spark/**/*.py`` (plus any vendored ``kiwi_spark/data/*``) is
included — tests, jobs and tools stay out of the executor path.
"""

from __future__ import annotations

import os
import sys
import zipfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def build(out_path: str) -> int:
    count = 0
    with zipfile.ZipFile(out_path, "w", zipfile.ZIP_DEFLATED) as zf:
        for root, _dirs, files in os.walk(os.path.join(REPO, "kiwi_spark")):
            for name in sorted(files):
                if name.endswith(".pyc") or "__pycache__" in root:
                    continue
                if not (name.endswith(".py") or "/data" in root.replace("\\", "/")):
                    continue
                full = os.path.join(root, name)
                zf.write(full, os.path.relpath(full, REPO))
                count += 1
    return count


def main() -> int:
    out_path = sys.argv[1] if len(sys.argv) > 1 else os.path.join(
        REPO, "kiwi_spark.zip"
    )
    count = build(out_path)
    print(f"{out_path}: {count} files")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
