"""Single-threaded pure-Python oracle.

The reference cannot be executed in this sandbox (mapper.jar and
cwe_dict.xml are missing blobs — /root/reference/.MISSING_LARGE_BLOBS), so
this oracle IS the correctness authority for triple P/R, reimplemented from
the RML semantics catalogued in SURVEY.md §2.9 with every quirk preserved
(SURVEY.md §7.3 risk 7). It shares the ``uckg_spark.kernel`` modules with
the Spark pipeline, so extraction byte-identity holds by construction.
Mention detection is the exception: ``oracle.detect`` keeps the plain
scans as the golden copy the prefiltered kernel is checked against.
"""
