#!/usr/bin/env python
"""spark-submit launcher for the CLI: ``spark-submit --py-files
dist/mysql_data_quality_spark.zip scripts/run_pipeline.py [--cores N]
filter|stream-filter ...`` takes the arguments of
``python -m mysql_data_quality_spark.cli``."""
import sys
from pathlib import Path

# spark-submit needs a local .py file; the repo root is importable
# without --py-files when the script runs from a checkout
sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
from mysql_data_quality_spark import cli  # noqa: E402

sys.exit(cli.main(sys.argv[1:]))
