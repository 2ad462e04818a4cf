"""Cold start pays only for what the config names.  In a fresh
interpreter, importing the executor and the server loads no source,
operator or sink file and no pandas; a `create` -> `memory` run then
loads only those two module files and starts no Python worker."""

import json
import os
import subprocess
import sys
import textwrap

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_PROBE = textwrap.dedent('''
    import json, os, sys

    def loaded():
        return sorted(
            m for m in sys.modules
            if m.split(".")[:2] in (["pipeline_spark", "sources"],
                                    ["pipeline_spark", "operators"],
                                    ["pipeline_spark", "sinks"])
            and m.count(".") == 2
        )

    from pipeline_spark import executor, server
    from pipeline_spark.config import parse_config
    after_import = {"modules": loaded(), "pandas": "pandas" in sys.modules}

    from pyspark.sql import SparkSession
    spark = (SparkSession.builder.master("local[1]")
             .config("spark.ui.enabled", "false").getOrCreate())
    executor.run_pipeline(spark, parse_config("""
    sources:
      - name: seed
        module: create
        parameters:
          elements: [{a: 1}, {a: 2}, {a: 3}]
    sinks:
      - name: guard_probe
        module: memory
        inputs: [seed]
    """))
    rows = spark.table("guard_probe").count()

    # Python workers are children of this session's JVM
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    workers = 0
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read()
        except OSError:
            continue
        workers += ppid == jvm_pid and b"pyspark" in cmd
    spark.stop()
    print(json.dumps({"import": after_import, "run": loaded(), "rows": rows,
                      "workers": workers}))
''')


def test_cold_start_imports_only_named_modules():
    env = dict(os.environ, PYTHONPATH=ROOT + os.pathsep + os.environ.get("PYTHONPATH", ""))
    out = subprocess.run(
        [sys.executable, "-c", _PROBE], cwd=ROOT, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    got = json.loads(out.stdout.strip().splitlines()[-1])
    assert got["import"] == {"modules": [], "pandas": False}
    assert got["run"] == ["pipeline_spark.sinks.memory", "pipeline_spark.sources.create"]
    assert got["rows"] == 3
    assert got["workers"] == 0
