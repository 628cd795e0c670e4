"""Benchmark of the lib_gdal_spark engine; run it with ``run.py``."""
