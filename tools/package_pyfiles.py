"""Package the engine for `spark-submit --py-files` (north-rule packaging
clause): zips readability_1_spark/ into dist/readability_1_spark.zip (or the
zip path given) and prints the submit command.  The zip's contents come from
`pipeline.build_pyfiles_zip`, the builder `ensure_worker_imports` ships with
`addPyFile`.

The package is pure Python (stdlib + pandas/pyarrow already on executors),
so one zip on the executors' PYTHONPATH is the whole deployment.

Run: python3 tools/package_pyfiles.py [out.zip]
"""

from __future__ import annotations

import os
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from readability_1_spark.pipeline import build_pyfiles_zip  # noqa: E402

if __name__ == "__main__":
    path = os.path.abspath(
        sys.argv[1] if len(sys.argv) > 1
        else os.path.join(REPO, "dist", "readability_1_spark.zip")
    )
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with tempfile.TemporaryDirectory(dir=os.path.dirname(path)) as tmp:
        os.replace(build_pyfiles_zip(tmp), path)
    print(f"built {path}")
    print(
        "submit with:\n"
        f"  spark-submit --py-files {path} \\\n"
        "    --conf spark.sql.adaptive.enabled=true \\\n"
        "    --conf spark.sql.execution.arrow.pyspark.enabled=true \\\n"
        "    jobs/extract_job.py --input <transcripts> --output <warehouse>"
    )
