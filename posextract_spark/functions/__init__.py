"""Helpers shared by operators: JVM-side column functions, and in
``worker`` the Python-worker housekeeping of the UDF batch functions."""

from posextract_spark.functions.hashing import portable_hash64, word_array  # noqa: F401
