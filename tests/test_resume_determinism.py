"""I1/I2 resume pin + the §5.5 determinism guarantee."""

import os

from jobs.build_kg import scan_pin
from uckg_spark.sources.pages import pages_df, read_pages, write_pages


class TestResume:
    def test_pin_follows_the_input_files(self, spark, fixture_pages,
                                         tmp_path):
        """The scan pin is stable while the pages files and the alias
        dictionary are, and moves when either changes."""
        path = str(tmp_path / "pages")
        write_pages(pages_df(spark, fixture_pages), path)
        aliases = [{"surface_form": "x", "canonical_id": "a:x",
                    "kind": "vendor_product", "prior": 1.0}]
        pin = scan_pin(read_pages(spark, path), aliases)
        assert pin == scan_pin(read_pages(spark, path), aliases)
        assert pin != scan_pin(read_pages(spark, path),
                               [{**aliases[0], "prior": 0.5}])
        part = next(f for f in os.listdir(path) if f.endswith(".parquet"))
        st = os.stat(os.path.join(path, part))
        os.utime(os.path.join(path, part),
                 ns=(st.st_atime_ns, st.st_mtime_ns + 1))
        assert pin != scan_pin(read_pages(spark, path), aliases)

    def test_unstatable_input_has_no_pin(self, tmp_path):
        """Fail closed: an input file the driver cannot stat yields no
        pin, so the build always rescans."""
        class Listing:
            def __init__(self, files):
                self.files = files

            def inputFiles(self):
                return self.files

        assert scan_pin(Listing(["hdfs://nn/pages/part-0.parquet"]), []) is None
        gone = (tmp_path / "part-0.parquet").as_uri()
        assert scan_pin(Listing([gone]), []) is None
        (tmp_path / "part-0.parquet").write_bytes(b"x")
        assert scan_pin(Listing([gone]), []) is not None


class TestDeterminism:
    def test_partitioning_invariance(self, spark, fixture_pages, kg_dims):
        """Same input at different parallelism → identical triple set
        (guards the reference's A3 completion-order nondeterminism from
        creeping back in; SURVEY.md §5.5)."""
        from uckg_spark.plans.kg_pipeline import build_triples

        p1 = pages_df(spark, fixture_pages).repartition(1)
        p13 = pages_df(spark, fixture_pages).repartition(13)
        a = {tuple(r) for r in build_triples(spark, p1, kg_dims).collect()}
        b = {tuple(r) for r in build_triples(spark, p13, kg_dims).collect()}
        assert a == b
