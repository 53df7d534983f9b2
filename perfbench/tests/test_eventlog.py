import os

from perfbench import eventlog

LOG = os.path.join(os.path.dirname(__file__), "data", "tiny_eventlog.jsonl")


def _parsed():
    with open(LOG) as f:
        return eventlog.parse(f)


def test_parse_reads_jobs_and_tasks():
    p = _parsed()
    assert len(p["jobs"]) >= 2
    assert p["tasks"]
    assert all(t["stage"] in p["stage_job"] for t in p["tasks"])
    assert sum(t["shuffle_write"] for t in p["tasks"]) > 0
    assert sum(t["shuffle_write"] for t in p["tasks"]) == sum(
        t["shuffle_read"] for t in p["tasks"]
    )


def test_attribute_assigns_jobs_by_submission_time():
    p = _parsed()
    first = min(p["jobs"].values()) / 1000.0
    last = max(p["jobs"].values()) / 1000.0
    everything = eventlog.attribute(p, {1: (first - 1, last + 1)})
    assert everything["per_batch"][1]["jobs"] == len(p["jobs"])
    assert everything["totals"]["tasks"] == len(p["tasks"])
    assert everything["per_batch"][1]["stages"] == len(
        {t["stage"] for t in p["tasks"]}
    )
    nothing = eventlog.attribute(p, {1: (last + 10, last + 20)})
    assert nothing["per_batch"][1] == {"jobs": 0, "stages": 0, "tasks": 0}
    assert nothing["totals"]["tasks"] == 0



def test_read_dir_reads_the_one_plain_log(tmp_path):
    (tmp_path / "local-app").write_text(open(LOG).read())
    assert eventlog.read_dir(str(tmp_path)) == _parsed()
