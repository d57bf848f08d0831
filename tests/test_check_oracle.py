"""tools/check_oracle.py --resume-log refuses a log from another sf_dir."""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.mark.parametrize("header", [None, "other"])
def test_resume_log_refuses_other_sf_dir(tmp_path, header):
    log = tmp_path / "sweep.log"
    lines = [] if header is None else [f"sf_dir {tmp_path / header}"]
    log.write_text("\n".join(lines + ["ok   some_entry: 1 rows (0.1s)", ""]))
    out = subprocess.run(
        [sys.executable, "tools/check_oracle.py", str(tmp_path / "sf"),
         "--resume-log", str(log)],
        cwd=REPO, capture_output=True, text=True, timeout=120,
    )
    assert out.returncode == 2, out.stderr
    assert "refusing --resume-log" in out.stderr
