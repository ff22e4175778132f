import procmem


def _proc(root, pid, ppid, comm, cmdline, hwm_kib=None):
    d = root / str(pid)
    d.mkdir()
    (d / "stat").write_text(f"{pid} ({comm}) S {ppid} 1 1 0 -1\n")
    (d / "cmdline").write_bytes("\0".join(cmdline.split()).encode() + b"\0")
    status = "Name:\t%s\n" % comm
    if hwm_kib is not None:
        status += f"VmHWM:\t{hwm_kib} kB\nVmRSS:\t1 kB\n"
    (d / "status").write_text(status)


def test_daemon_and_workers_told_apart(tmp_path):
    _proc(tmp_path, 10, 1, "python3", "python3 perfbench/run.py", 90_000)
    _proc(tmp_path, 11, 10, "java", "java -cp x SparkSubmit", 2_000_000)
    _proc(tmp_path, 12, 11, "python3", "python3 -m pyspark.daemon", 50_000)
    _proc(tmp_path, 13, 12, "python3", "python3 -m pyspark.daemon", 130_000)
    _proc(tmp_path, 14, 12, "python3", "python3 -m pyspark.daemon", 140_000)
    _proc(tmp_path, 20, 1, "python3", "python3 -m pyspark.daemon", 999_999)
    (tmp_path / "self").mkdir()  # non-numeric entries are skipped
    found = procmem.spark_processes(10, str(tmp_path))
    assert found.jvm == [11]
    assert found.daemons == [12]
    assert sorted(found.workers) == [13, 14]
    assert procmem.high_water_mib(found.workers, str(tmp_path)) == 140_000 / 1024
    assert procmem.high_water_mib([999], str(tmp_path)) is None


def test_alive_treats_zombies_and_missing_as_gone(tmp_path):
    _proc(tmp_path, 7, 1, "python3", "x", 1)
    assert procmem.alive(7, str(tmp_path))
    (tmp_path / "7" / "stat").write_text("7 (python3) Z 1 1 1 0 -1\n")
    assert not procmem.alive(7, str(tmp_path))
    assert not procmem.alive(8, str(tmp_path))


def test_comm_with_spaces_and_parens(tmp_path):
    _proc(tmp_path, 5, 1, "a) b", "x", 1)
    table = procmem.process_table(str(tmp_path))
    assert table[5].ppid == 1 and table[5].comm == "a) b"
