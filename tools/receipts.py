#!/usr/bin/env python3
"""Stamped receipts for verification runs (VERDICT r18 item 1).

Every checker tees its stdout into a receipt file whose NAME carries
the SF basename and the round, and whose HEADER carries the data
generation (mtime of the sf dir's documents.parquet) plus the exact
argv — so a receipt can never silently describe a different data
generation the way the unstamped /tmp/pipe02_staged.txt did in r17/r18.

The receipt is written next to the dump it verifies (outDir) AND, when
this checkout's receipts/ exists, copied under receipts/<round>/ on exit so
the evidence is committed, cat-able, and survives /tmp churn.

Round comes from $GRAFT_ROUND (e.g. "r19"); default is a date stamp so
an unconfigured run is still period-stamped, never ambiguous.
"""
import atexit, os, sys, time
from pathlib import Path


class _Tee:
    """Tee that also satisfies libraries probing sys.stdout for
    terminal-ness (isatty/fileno/encoding — progress bars, warnings
    formatting): those delegate to the FIRST stream (the original
    stdout), so installing the tee never changes their answers."""

    def __init__(self, *streams):
        self.streams = streams

    def write(self, s):
        for st in self.streams:
            st.write(s)
        return len(s)

    def flush(self):
        for st in self.streams:
            st.flush()

    def isatty(self):
        try:
            return self.streams[0].isatty()
        except Exception:
            return False

    def fileno(self):
        return self.streams[0].fileno()

    @property
    def encoding(self):
        return getattr(self.streams[0], "encoding", "utf-8")

    @property
    def errors(self):
        return getattr(self.streams[0], "errors", "strict")

    def writable(self):
        return True


def tee_stdout(tool, sf_dir, out_dir):
    """Duplicate stdout (and a metadata header) into
    `<out_dir>/receipt_<tool>_<sfbase>_<round>.txt`, mirrored into
    this checkout's receipts/<round>/ at interpreter exit. Returns the
    receipt path. Failures to set up the receipt never block the
    check itself."""
    try:
        rnd = os.environ.get("GRAFT_ROUND", time.strftime("%Y%m%d"))
        base = Path(sf_dir).name
        # run-time stamp in the NAME: two runs of the same tool+SF+round
        # must produce two receipts, not silently clobber each other.
        # Full date + PID (ADVICE r19): %H%M%S alone still collides for
        # same-time-of-day runs on different days or within one second.
        p = Path(out_dir) / (f"receipt_{tool}_{base}_{rnd}"
                             f"_run{time.strftime('%Y%m%dT%H%M%S')}p{os.getpid()}.txt")
        p.parent.mkdir(parents=True, exist_ok=True)
        f = open(p, "w", buffering=1)
        docs = Path(sf_dir) / "documents.parquet"
        gen = (time.strftime("%Y-%m-%dT%H:%M:%S", time.localtime(docs.stat().st_mtime))
               if docs.exists() else "absent")
        f.write(f"# tool={tool} sf={sf_dir} out={out_dir} round={rnd}\n"
                f"# data_generation(documents.parquet mtime)={gen}\n"
                f"# run_at={time.strftime('%Y-%m-%dT%H:%M:%S')} argv={sys.argv}\n")
        sys.stdout = _Tee(sys.stdout, f)

        def _mirror():
            try:
                f.flush()
                repo = Path(__file__).resolve().parents[1] / "receipts"
                if repo.is_dir():
                    dst = repo / os.environ.get("GRAFT_ROUND", rnd)
                    dst.mkdir(parents=True, exist_ok=True)
                    (dst / p.name).write_text(p.read_text())
            except Exception:
                pass

        atexit.register(_mirror)
        return p
    except Exception as e:
        print(f"[receipts] disabled: {type(e).__name__}: {e}", file=sys.stderr)
        return None
