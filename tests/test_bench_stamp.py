"""bench.py cleanliness stamp: the clean/loaded verdict on a bench
artifact must be machine-checkable (r10 verdict: a loaded driver rerun
at loadavg 18 read 121.5 s vs the 90.4 s clean run, and the
adjudication lived only in prose).  clean_stamp is a pure function of
the recorded load indicators, so these tests pin the exact gating —
no Spark session needed."""

import importlib.util
import sys
from pathlib import Path


def _bench():
    spec = importlib.util.spec_from_file_location(
        "bench", Path(__file__).resolve().parent.parent / "bench.py")
    mod = importlib.util.module_from_spec(spec)
    sys.modules.setdefault("bench", mod)
    spec.loader.exec_module(mod)
    return mod


def test_clean_run_stamps_true():
    b = _bench()
    assert b.clean_stamp(probe_pre_s=0.47, probe_post_s=0.48,
                         ref_retime_s=0.25, loadavg1_pre=0.8,
                         sf=0.1, ref_retime_pre_s=0.24) is True


def test_loaded_indicators_each_stamp_false():
    b = _bench()
    clean = dict(probe_pre_s=0.47, probe_post_s=0.48,
                 ref_retime_s=0.25, loadavg1_pre=0.8, sf=0.1,
                 ref_retime_pre_s=0.24)
    # the r10 steal episode: single-thread md5 ~2.7x inflated
    assert b.clean_stamp(**{**clean, "probe_pre_s": 1.29}) is False
    # contention arriving MID-RUN: pre probe clean, post probe not
    assert b.clean_stamp(**{**clean, "probe_post_s": 1.52}) is False
    # loaded-run retimes measured 0.33-0.39 (clean band 0.21-0.28)
    assert b.clean_stamp(**{**clean, "ref_retime_s": 0.35}) is False
    # a retime that never completed is not evidence of cleanliness
    assert b.clean_stamp(**{**clean, "ref_retime_s": None}) is False
    # another Spark job still running at bench start
    assert b.clean_stamp(**{**clean, "loadavg1_pre": 18.0}) is False
    # residual load at bench START only (a 27-min suite just ended):
    # the end retime, probes and 1-min loadavg all read clean while
    # the early keys ran ~15% inflated — the PRE retime catches it
    assert b.clean_stamp(**{**clean, "ref_retime_pre_s": 0.41}) is False
    assert b.clean_stamp(**{**clean, "ref_retime_pre_s": None}) is False


def test_retime_band_is_sf01_only():
    b = _bench()
    # at a non-driver sf the dedup_exact band is uncalibrated: the
    # probe + loadavg gates alone decide, a missing retime is fine
    assert b.clean_stamp(probe_pre_s=0.47, probe_post_s=0.48,
                         ref_retime_s=None, loadavg1_pre=0.8,
                         sf=0.01) is True
    assert b.clean_stamp(probe_pre_s=1.29, probe_post_s=0.48,
                         ref_retime_s=None, loadavg1_pre=0.8,
                         sf=0.01) is False


def test_retime_band_is_full_core_count_only():
    b = _bench()
    # the driver re-runs the bench at a LOWER $SPARK_GRAFT_CPUS to
    # measure scaling: dedup_exact is legitimately slower on fewer
    # cores, so the local[32]-calibrated band must not gate there —
    # probe + loadavg alone decide, exactly like the non-sf0.1 case
    assert b.clean_stamp(probe_pre_s=0.47, probe_post_s=0.48,
                         ref_retime_s=0.55, loadavg1_pre=0.8,
                         sf=0.1, ref_retime_pre_s=0.60,
                         cpus=8) is True
    # a genuinely loaded host still stamps false at any core count
    assert b.clean_stamp(probe_pre_s=1.29, probe_post_s=0.48,
                         ref_retime_s=0.55, loadavg1_pre=0.8,
                         sf=0.1, ref_retime_pre_s=0.60,
                         cpus=8) is False
    # at the calibration config the band still gates (cpus defaults
    # to 32 for artifacts written before the field existed)
    assert b.clean_stamp(probe_pre_s=0.47, probe_post_s=0.48,
                         ref_retime_s=0.55, loadavg1_pre=0.8,
                         sf=0.1, ref_retime_pre_s=0.60) is False


def test_mid_run_retime_gate():
    b = _bench()
    clean = dict(probe_pre_s=0.47, probe_post_s=0.48,
                 ref_retime_s=0.25, loadavg1_pre=0.8, sf=0.1,
                 ref_retime_pre_s=0.24)
    # the r11 close failure mode: both EDGES in band, a burst mid-run
    # (dedup_corpus_minhash 9.18 s vs its 1.6-2.1 s band while the
    # edge retimes read 0.292/0.252) — one out-of-band mid sample
    # must fail the stamp
    assert b.clean_stamp(**clean, mid_retimes_s=[0.24, 0.61, 0.26]) is False
    # every mid sample in band: clean
    assert b.clean_stamp(**clean, mid_retimes_s=[0.24, 0.26, 0.25]) is True
    # the gate is HIGH-side only: a deep-warm session reads BELOW the
    # calibrated floor on an idle box (r12 close: 0.16-0.17 after
    # 100+ keys) — faster than band is cleaner, not dirtier
    assert b.clean_stamp(**clean, mid_retimes_s=[0.16, 0.17, 0.25]) is True
    assert b.clean_stamp(**{**clean, "ref_retime_s": 0.15}) is True
    # artifacts predating the gate (None) and short runs ([]) are
    # judged by the edge gates alone
    assert b.clean_stamp(**clean, mid_retimes_s=None) is True
    assert b.clean_stamp(**clean, mid_retimes_s=[]) is True
    # a failed mid retime is not evidence of cleanliness
    assert b.clean_stamp(**clean, mid_retimes_s=[0.24, None]) is False
    # off the calibration config the band is uncalibrated: mid samples
    # do not gate (probe + loadavg still do)
    assert b.clean_stamp(probe_pre_s=0.47, probe_post_s=0.48,
                         ref_retime_s=0.55, loadavg1_pre=0.8,
                         sf=0.1, ref_retime_pre_s=0.60, cpus=8,
                         mid_retimes_s=[0.61, 0.70]) is True


def test_retime_hard_floor():
    """The band is high-side only, but a retime far below any warm
    reading means the run timed a wrong or empty dataset."""
    b = _bench()
    clean = dict(probe_pre_s=0.47, probe_post_s=0.48,
                 ref_retime_s=0.25, loadavg1_pre=0.8, sf=0.1,
                 ref_retime_pre_s=0.24)
    assert b.clean_stamp(**{**clean, "ref_retime_s": 0.02}) is False
    assert b.clean_stamp(**{**clean, "ref_retime_pre_s": 0.01}) is False
    assert b.clean_stamp(**clean, mid_retimes_s=[0.24, 0.03]) is False
    # deep-warm readings well above the floor still stamp clean
    assert b.clean_stamp(**clean, mid_retimes_s=[0.16, 0.17]) is True


class _Frame:
    def count(self):
        return 1


def test_failed_mid_retime_leaves_a_gap_marker():
    """A ref-key failure mid-run is recorded as a None sample, not
    dropped, so the stamp sees the gap."""
    b = _bench()
    calls = {"ref": 0}

    def ref(spark, sf_dir):
        calls["ref"] += 1
        if calls["ref"] > 6:        # the first mid retime (1 warm + 5) passes
            raise RuntimeError("ref key broke mid-run")
        return _Frame()

    queries = {"ref": ref, **{f"k{i}": (lambda s, d: _Frame())
                               for i in range(2 * b.MID_RETIME_EVERY + 1)}}
    headline = [k for k in queries if k != "ref"]
    times, failed, mids, _ = b.run_headline(None, queries, headline,
                                            "sf", "ref")
    assert len(times) == len(headline) and not failed
    # clean_stamp fails a None mid sample (test_mid_run_retime_gate)
    assert len(mids) == 2 and mids[0] is not None and mids[1] is None


def test_probe_measures_host_not_spark():
    """The probe must run in-band (~0.5 s idle) and return seconds;
    a smoke bound wide enough to never flake under suite load."""
    b = _bench()
    s = b.single_thread_probe()
    assert 0.05 < s < 30.0
