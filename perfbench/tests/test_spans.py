import os
import subprocess
import sys

import spans

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))


def test_nested_calls_of_one_layer_record_one_span():
    tracer = spans.Tracer()

    def inner():
        return 1

    wrapped_inner = tracer.wrap("plans.run", inner)
    outer = tracer.wrap("plans.run", lambda: wrapped_inner() + 1)
    assert outer() == 2
    assert [s.layer for s in tracer.spans] == ["plans.run"]
    span = tracer.spans[0]
    assert tracer.total_s("plans.run", [(span.start, span.end)]) == span.end - span.start
    assert tracer.total_s("plans.run", [(span.end + 1, span.end + 2)]) == 0


def test_writer_spans_count_the_files_they_add(tmp_path):
    tracer = spans.Tracer()
    old = tmp_path / "out" / "old.parquet"
    old.parent.mkdir()
    old.write_bytes(b"x" * 5)

    def write(df, path):
        (tmp_path / "out" / "part-0.parquet").write_bytes(b"y" * 7)
        (tmp_path / "out" / "_SUCCESS").write_bytes(b"")

    tracer.wrap("sources.write", write)(None, str(tmp_path / "out"))
    assert tracer.bytes_written == {"sources.write": 7}
    assert tracer.files_written == {"sources.write": 1}


def test_install_patches_every_loaded_reference():
    # a fresh interpreter, so the patched engine never leaks into other tests
    code = """
import spans
from automated_batch_data_pipeline_nyc_spark import suite
from automated_batch_data_pipeline_nyc_spark.sources import readers, txlog
from automated_batch_data_pipeline_nyc_spark.plans import pipeline
from automated_batch_data_pipeline_nyc_spark.operators import quality
before = readers.read_parquet
spans.Tracer().install()
assert readers.read_parquet is not before and suite.read_parquet is readers.read_parquet
assert readers.read_parquet.__wrapped__ is before
for fn in (txlog.commit, pipeline.run_reference_pipeline, pipeline.Pipeline.run,
           quality.expect_nonempty, quality.expect_no_nulls):
    assert hasattr(fn, "__wrapped_layer__"), fn
"""
    env = dict(os.environ, PYTHONPATH=os.pathsep.join([os.path.dirname(HERE), ROOT]))
    out = subprocess.run([sys.executable, "-c", code], env=env, capture_output=True, text=True, timeout=120)
    assert out.returncode == 0, out.stderr
