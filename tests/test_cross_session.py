"""The bucketed-relayout workflow is TWO processes: a relayout job
(``cli --bucket-out``) that writes the layout and exits, and a later
pipeline job that reads it back with the bucketing visible. Every other
bucketed-layout test writes and reads in one session — this one pins
the actual workflow: session A (a real ``logpipe.cli`` subprocess)
relays out, exits; session B (a fresh interpreter, fresh JVM) opens the
table as ``table:NAME`` through ``tableio.read_table`` and compiles the
stitch with ZERO exchanges AND zero sorts over ``Bucketed: true``
scans — both the bucket spec and the in-bucket sortBy order live in
the catalog entry, and both must survive the metastore round-trip for
the layout story to hold in production.

What makes it work across processes is a SHARED METASTORE: the bucket
spec lives in the catalog entry, not in the parquet files, so both
sessions must resolve the same catalog. Locally that is
``spark.sql.catalogImplementation=hive`` with a Derby metastore
directory both sessions point at (the confs the test passes via
``cli --conf``); on a cluster it is the Hive Metastore / Glue the
sessions already share. A default (in-memory-catalog) session loses
the entry when the JVM exits — the relayout would still write the
files, but no later session could see the bucketing. Stated in
``tableio``'s module docstring and README.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_READER_SCRIPT = """
import json
import re
import sys

from logpipe.operators.stitch import stitch_multiline
from logpipe.session import get_spark
from logpipe.tableio import apply_sorted_scan_confs, read_table

confs = json.loads(sys.argv[1])
spark = get_spark(app_name="xsess-b", master="local[4]",
                  shuffle_partitions=8, extra_conf=confs)
# the reader side of the sorted layout: the guarded applier (raises if
# this runtime dropped the legacy conf, so the sorts==0 assert below
# can never silently test a session the conf no-opped in)
apply_sorted_scan_confs(spark)
# the catalog table through the production read seam: table:NAME is
# served by the built-in (here Hive) catalog in a non-Iceberg session
t = read_table(spark, "table:xs_transcripts_t")
out = stitch_multiline(t)
plan = out._jdf.queryExecution().executedPlan().toString()
agg = out.groupBy().sum("n_lines").first()
print("XSESS_RESULT " + json.dumps({
    "exchanges": plan.count("Exchange"),
    "sorts": len(re.findall(r"\\bSort\\b", plan)),
    "bucketed": "Bucketed: true" in plan,
    "n_lines_total": agg[0],
    "groups": out.count(),
}))
spark.stop()
"""


def test_bucketed_layout_survives_process_boundary(tmp_path):
    """cli --bucket-out in process A; fresh process B reads the table
    as table:NAME and the whole stitch compiles shuffle-free AND sort-free.
    The one link of the layout story no same-session test can
    exercise."""
    wh = str(tmp_path / "warehouse")
    ms = str(tmp_path / "metastore")
    shared_confs = {
        "spark.sql.catalogImplementation": "hive",
        "spark.sql.warehouse.dir": wh,
        "spark.hadoop.javax.jdo.option.ConnectionURL": (
            f"jdbc:derby:;databaseName={ms}/metastore_db;create=true"
        ),
    }
    env = dict(os.environ, PYTHONPATH=REPO)

    # session A: the relayout job — writes bucketed+sorted, exits
    a = subprocess.run(
        [sys.executable, "-m", "logpipe.cli",
         "--synth", "4000",
         "--bucket-out", str(tmp_path / "xs_data"),
         "--bucket-n", "8",
         "--bucket-table", "xs_transcripts_t",
         "--sort-cols", "conv_id,turn_idx",
         "--single-file-buckets",
         "--master", "local[4]"]
        + [x for k, v in shared_confs.items() for x in ("--conf", f"{k}={v}")],
        capture_output=True, text=True, timeout=600, env=env, cwd=REPO,
    )
    assert a.returncode == 0, a.stderr[-3000:]
    info = json.loads(a.stdout.strip().splitlines()[-1])
    assert info["table"] == "xs_transcripts_t"
    assert info["sort_cols"] == ["conv_id", "turn_idx"]

    # session B: fresh interpreter + JVM, same metastore confs
    b = subprocess.run(
        [sys.executable, "-c", _READER_SCRIPT, json.dumps(shared_confs)],
        capture_output=True, text=True, timeout=600, env=env, cwd=REPO,
    )
    assert b.returncode == 0, b.stderr[-3000:]
    line = [l for l in b.stdout.splitlines() if l.startswith("XSESS_RESULT ")]
    assert line, b.stdout[-2000:]
    res = json.loads(line[-1][len("XSESS_RESULT "):])
    assert res["bucketed"] is True
    assert res["exchanges"] == 0
    # the sortBy metadata also survives the metastore round-trip:
    # session A wrote --sort-cols conv_id,turn_idx --single-file-buckets
    # and session B applied SORTED_SCAN_CONFS, so the stitch window's
    # SORT is elided too — the cross-process counterpart of
    # test_stitch.py::test_sorted_bucket_elides_window_sort (round-9
    # verdict task 2: this field was computed but never asserted)
    assert res["sorts"] == 0, res
    assert res["n_lines_total"] == 4000  # every synthesized line stitched
    assert res["groups"] > 0
