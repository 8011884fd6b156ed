"""spark-submit entry point for the flagship pipeline: a shim over
``python -m med_doi_feature_extraction_spark pages`` (same flags).

Cluster usage (the north-rule packaging contract):

    python -m med_doi_feature_extraction_spark.packaging  # or:
    python - <<'PY'
    from med_doi_feature_extraction_spark.packaging import build_package_zip
    print(build_package_zip())
    PY
    spark-submit --py-files /tmp/med_doi_feature_extraction_spark.zip \
        tools/run_pipeline.py --config config/pipelines/pages_features.yaml \
        --input /data/pages --dim /data/dim_snapshots --output /data/features \
        --manifest /data/manifest [--no-resume]

Local mode works without --py-files (the session factory ships the
zip itself). Resume is the default behavior: completed buckets in the
manifest are skipped; pass --no-resume to wipe the manifest first.
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

if __name__ == "__main__":
    from med_doi_feature_extraction_spark.__main__ import main

    main(["pages", *sys.argv[1:]])
