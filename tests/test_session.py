"""Session defaults that hold whatever directory the driver runs from."""

import os
import subprocess
import sys
import textwrap

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_workers_import_kg_from_any_cwd(tmp_path):
    """A driver started outside the repo, with no PYTHONPATH, finds
    ``kg`` by sys.path alone; its pandas-UDF tasks must find it too,
    through the PYTHONPATH build_session gives the Python workers."""
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {REPO!r})
        from kg.extract import html_to_text
        from kg.session import build_session

        spark = build_session(app_name="kg-cwd", master="local[1]", shuffle_partitions=1)
        pages = spark.createDataFrame(
            [("u", bytearray(b"<p>Hello world.</p>"))], "url string, html binary"
        )
        print("text=" + html_to_text(pages).collect()[0]["text"])
        spark.stop()
        """
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["KG_DRIVER_MEM"] = "1g"
    out = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert "text=Hello world." in out.stdout
