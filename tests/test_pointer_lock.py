"""Two-writer race test for the generation-pointer write lock
(VERDICT r17 wrong #3 / ask #5): ``set_generation_nprobe`` is a
read-modify-write with a fixed ``.tmp`` sibling — before the lock, two
concurrent writers could collide on the tmp path (``os.replace`` steals
the other's file -> FileNotFoundError) or lose an update (both read the
same snapshot, last rename wins).  The exclusive ``flock`` in
``_pointer_write_lock`` serializes the RMW; these tests hammer it from
threads and assert no writer ever crashes, every concurrent read sees a
complete state, and non-nprobe tokens survive every interleaving.

No Spark needed: the pointer surface is pure file ops.
"""

import threading

from awsbatch_mapreduce_spark.index.generation import (
    _pointer_write_lock,
    read_pointer,
    set_generation_nprobe,
)

N_THREADS = 4
N_ITERS = 150


def _write_pointer(path, kind="gen_a", n_fit=100, flags="pq cap=16"):
    with open(path, "w") as fh:
        fh.write(f"{kind}\n{n_fit}\n{flags}")


def test_concurrent_nprobe_writers_never_collide_or_lose_tokens(tmp_path):
    pointer = str(tmp_path / "current_generation")
    _write_pointer(pointer)
    errors = []

    def writer(value):
        try:
            for _ in range(N_ITERS):
                set_generation_nprobe(pointer, value)
        except Exception as exc:  # noqa: BLE001 — the failure under test
            errors.append(exc)

    def reader():
        try:
            for _ in range(N_ITERS * 2):
                rec = read_pointer(pointer)
                # atomic rename: a reader must NEVER see a partial state
                assert rec.kind == "gen_a" and rec.n_fit == 100
                assert rec.pq and rec.cap == 16
        except Exception as exc:  # noqa: BLE001
            errors.append(exc)

    threads = [
        threading.Thread(target=writer, args=(i + 1,))
        for i in range(N_THREADS)
    ] + [threading.Thread(target=reader)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()

    assert errors == [], errors
    rec = read_pointer(pointer)
    assert rec.kind == "gen_a" and rec.n_fit == 100
    # every non-nprobe token survived; exactly one nprobe token remains
    assert rec.pq and rec.cap == 16
    with open(pointer) as fh:
        flags = fh.read().splitlines()[2].split()
    nprobe_tokens = [t for t in flags if t.startswith("nprobe=")]
    assert len(nprobe_tokens) == 1
    assert nprobe_tokens[0] in {f"nprobe={i + 1}" for i in range(N_THREADS)}


def test_lock_is_exclusive_and_reentrant_per_call(tmp_path):
    """The lock serializes critical sections: a counter incremented
    non-atomically under the lock must come out exact."""
    pointer = str(tmp_path / "current_generation")
    state = {"n": 0}

    def bump():
        for _ in range(200):
            with _pointer_write_lock(pointer):
                cur = state["n"]
                state["n"] = cur + 1

    threads = [threading.Thread(target=bump) for _ in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert state["n"] == 800
