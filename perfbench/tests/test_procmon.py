"""Process-tree accounting: children's CPU survives their exit."""

import subprocess
import sys

from perfbench.procmon import TreeMonitor


def test_cpu_of_reaped_children_is_counted():
    burn = "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.5: pass"
    with TreeMonitor(interval_s=0.01) as mon:
        subprocess.run([sys.executable, "-c", burn], check=True)
    assert mon.result["cpu_s"] >= 0.4
    assert mon.result["peak_rss_mb"] > 0
    assert mon.result["wall_s"] >= 0.5
    assert set(mon.result["host"]) >= {"steal_pct", "degraded"}
