"""State doctor: scan a state root for crash leftovers of the engine's
rename-aside rewrite machinery and report (or repair) each one.

Every path that rewrites a state dir goes through one rename-aside
rewrite in plans/layout.py: ``_swap_rewrite`` (compact_stream_dir,
rewrite_stream_dir and the edit keys rebuild, and through them
hist_compact, cluster_compact_state, edit_compact_state,
purge_stream_state, cluster_purge_state and edit_purge_state) and
``swap_in`` (which _swap_rewrite ends in, and which foreach_batch_merge
uses for its per-batch table swap). Both keep a complete copy of the
state at the primary path or at a sibling at every instant
(plans/layout.py::staged_swap). A crash therefore leaves one of a
small, fully-enumerable set of artifacts, each with one correct
recovery:

| artifact | meaning | repair |
|---|---|---|
| ``d.compact_old`` with ``d`` present | swap completed, aside not yet reclaimed | delete the aside |
| ``d.compact_old`` with ``d`` missing | mid-swap crash — the aside IS the corpus | rename it back to ``d`` |
| ``d.compact_tmp`` with ``d`` or ``d.compact_old`` present | incomplete rewrite output | delete (the original is intact; the rewrite re-runs) |
| ``d.compact_tmp`` alone | inconsistent (no complete copy found), or a first swap_in write that crashed before its rename (the next call clears and rewrites it) | REPORT ONLY — never auto-repair |
| ``d.purge_intent`` / ``.purge_intent.old`` | a composite purge is in flight | REPORT ONLY — re-run the purge (any deleted set; the pending one merges in) |
| ``d.purge_intent.tmp`` with marker missing, ``_SUCCESS`` present | a marker restage crashed between its renames; the COMPLETE merged set is recoverable | REPORT ONLY — read_purge_intent restores it; re-run the purge |
| ``d.purge_intent.tmp`` otherwise | incomplete staging the engine ignores (read_purge_intent skips it; the next write deletes it) | delete |

``--repair`` applies exactly the delete/rename rows — the same
decisions plans/layout.py::recover_stale_sibling and swap_in's stale-tmp
clear make, so running the doctor is equivalent to letting
the next maintenance call recover, just without waiting for one. Purge
markers are never cleared here: only a completed purge may clear its
marker (plans/layout.py::clear_purge_intent), and the ingest sinks
refuse to run while it exists — that refusal is the safety property,
not a fault.

Exit code: 0 only when nothing needs action — i.e. no findings at all,
or (with ``--repair``) everything found was auto-repaired. Report-only
mode exits 1 on ANY finding, so exit-code monitoring catches a
mid-swap-stranded corpus (state offline, ingest wedged) without parsing
the output.

Local filesystems only (the scan is an os.walk); on object stores run
the equivalent listing and apply the same table.

Usage: python tools/state_doctor.py ROOT [--repair]
Prints one JSON line per finding and a summary line.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

OLD, TMP = ".compact_old", ".compact_tmp"
MARKER, MOLD, MTMP = ".purge_intent", ".purge_intent.old", ".purge_intent.tmp"


def diagnose(root: str) -> list[dict]:
    """All findings under ``root`` (see module table)."""
    if not os.path.exists(root):
        raise FileNotFoundError(
            f"state root {root} does not exist — refusing to report a clean "
            "bill of health for a path that was never scanned"
        )
    findings: list[dict] = []
    for dirpath, dirnames, filenames in os.walk(root):
        for name in list(dirnames) + list(filenames):
            full = os.path.join(dirpath, name)
            if name.endswith(OLD):
                primary = full[: -len(OLD)]
                if os.path.exists(primary):
                    findings.append(
                        {"path": full, "kind": "superseded_aside", "repair": "delete"}
                    )
                else:
                    findings.append(
                        {"path": full, "kind": "midswap_aside", "repair": f"rename to {primary}"}
                    )
            elif name.endswith(TMP) and not name.endswith(MTMP):
                primary = full[: -len(TMP)]
                if os.path.exists(primary) or os.path.exists(primary + OLD):
                    findings.append(
                        {"path": full, "kind": "stale_tmp", "repair": "delete"}
                    )
                else:
                    findings.append(
                        {"path": full, "kind": "orphan_tmp_no_copy", "repair": "MANUAL"}
                    )
            elif name.endswith(MTMP):
                marker = full[: -len(".tmp")]
                complete = os.path.exists(os.path.join(full, "_SUCCESS"))
                if not os.path.exists(marker) and complete:
                    # a restage crashed between its renames: read_purge_intent
                    # restores this merged set — same in-flight semantics
                    state = full[: -len(MTMP)]
                    findings.append(
                        {
                            "path": full,
                            "kind": "purge_in_flight",
                            "repair": f"re-run the purge over {state} (pending set merges in)",
                        }
                    )
                else:
                    # the engine ignores it (read_purge_intent requires
                    # _SUCCESS; a present marker supersedes any tmp) and
                    # the next write_purge_intent deletes it
                    findings.append(
                        {"path": full, "kind": "purge_stage_incomplete", "repair": "delete"}
                    )
            elif name.endswith(MARKER) or name.endswith(MOLD):
                state = full.split(MARKER)[0]
                findings.append(
                    {
                        "path": full,
                        "kind": "purge_in_flight",
                        "repair": f"re-run the purge over {state} (pending set merges in)",
                    }
                )
        # don't descend into artifact dirs themselves
        dirnames[:] = [
            d
            for d in dirnames
            if not (d.endswith(OLD) or d.endswith(TMP) or MARKER in d)
        ]
    return findings


AUTO = ("midswap_aside", "superseded_aside", "stale_tmp", "purge_stage_incomplete")


def repair(findings: list[dict]) -> list[dict]:
    """Apply the auto-repairable rows; returns findings annotated with
    ``applied``. Restores run before deletes so a stale tmp next to a
    mid-swap aside is judged against the restored primary."""
    order = {"midswap_aside": 0, "superseded_aside": 1, "stale_tmp": 2, "purge_stage_incomplete": 3}
    for f in sorted(findings, key=lambda f: order.get(f["kind"], 9)):
        if f["kind"] == "midswap_aside":
            os.rename(f["path"], f["path"][: -len(OLD)])
            f["applied"] = True
        elif f["kind"] in ("superseded_aside", "stale_tmp", "purge_stage_incomplete"):
            if os.path.isdir(f["path"]):
                shutil.rmtree(f["path"])
            else:
                os.remove(f["path"])
            f["applied"] = True
        else:
            f["applied"] = False
    return findings


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("root")
    ap.add_argument("--repair", action="store_true")
    args = ap.parse_args()
    found = diagnose(args.root)
    if args.repair:
        found = repair(found)
    for f in found:
        print(json.dumps(f))
    unresolved = (
        sum(1 for f in found if not f.get("applied"))
        if args.repair
        else len(found)
    )
    print(
        json.dumps(
            {
                "summary": True,
                "findings": len(found),
                "auto_repairable": sum(1 for f in found if f["kind"] in AUTO),
                "repaired": sum(1 for f in found if f.get("applied")),
                "needs_attention": unresolved,
            }
        )
    )
    sys.exit(0 if not unresolved else 1)


if __name__ == "__main__":
    main()
