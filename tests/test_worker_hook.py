"""The package's import hook in Spark Python workers: the per-task zip
directory re-read is skipped in workers, and the driver is left alone."""

from __future__ import annotations

import zipimport

import pandas as pd
from pyspark.sql import functions as F


def test_zip_reread_hook_active_in_workers_only(spark):
    @F.pandas_udf("boolean")
    def hooked(x: pd.Series) -> pd.Series:
        import zipimport

        import mdmpublic_spark  # noqa: F401  (the import installs the hook)

        patched = zipimport.zipimporter.invalidate_caches.__module__ == "mdmpublic_spark"
        return x.map(lambda _: patched)

    assert {r[0] for r in spark.range(16).select(hooked("id")).collect()} == {True}
    assert zipimport.zipimporter.invalidate_caches.__module__ == "zipimport"
