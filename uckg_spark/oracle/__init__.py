"""Single-threaded pure-Python oracle.

The reference cannot be executed in this sandbox (mapper.jar and
cwe_dict.xml are missing blobs — /root/reference/.MISSING_LARGE_BLOBS), so
this oracle IS the correctness authority for triple P/R, reimplemented from
the RML semantics catalogued in SURVEY.md §2.9 with every quirk preserved
(SURVEY.md §7.3 risk 7). It shares the ``uckg_spark.kernel`` templates,
JSON encoding and linking with the Spark pipeline. Text extraction and
mention detection are the exceptions: ``oracle.extract`` runs
``html.parser`` alone and ``oracle.detect`` the plain scans, as the
golden copies the split-then-verify extractor and the prefiltered
detector are checked against.
"""
