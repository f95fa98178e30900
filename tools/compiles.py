#!/usr/bin/env python3
r"""Janino compiles and compile ms per perfbench phase, read from the
stderr of a perfbench run.

Usage: compiles.py <perfbench-stderr>

Spark's CodeGenerator logs one INFO line per compiled class,
`Code generated in <ms> ms`. perfbench logs a `[bench]` line at the end
of each phase (`[bench]   41.07 s  rest done`) and after each curation
batch (`[bench] batch b1: ...`). Each compile line is counted in the
phase whose `[bench]` line comes next after it; compiles after the last
one are listed as `(after the last phase)`. Counts are split between
executor task threads (`Executor task launch worker ...`, the copy a
task compiles of a class the driver already compiled) and every other
thread (the driver, stream and server threads).

perfbench logs warnings only and no thread names. Run it from a scratch
copy of the repository whose perfbench/log4j2.properties logs the
CodeGenerator at INFO with the thread in the layout:

  mkdir -p /tmp/cg && git archive HEAD | tar -x -C /tmp/cg
  printf '%s\n' 'appender.console.layout.pattern = %d{HH:mm:ss} %p [%t] %c{1}: %m%n' \
    'logger.cg.name = org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator' \
    'logger.cg.level = info' >> /tmp/cg/perfbench/log4j2.properties
  (cd /tmp/cg && python3 perfbench/run.py --workload curation --seed 7 \
    --seconds 12 --trace 0 2> /tmp/cg.err)
  python3 tools/compiles.py /tmp/cg.err

Without the thread in the layout every compile counts as "other".
"""
import re
import sys

COMPILE = re.compile(r"Code generated in ([0-9.]+) ms")
THREAD = re.compile(r"^\S+ [A-Z]+ \[([^\]]*)\] ")
PHASE = re.compile(r"\[bench\]\s+[0-9.]+ s\s+(.+)$")
BATCH = re.compile(r"\[bench\] batch (\S+):")
TAIL = "(after the last phase)"


def tally(lines):
    """[(phase, {"task": [n, ms], "other": [n, ms]})] in log order."""
    phases, open_ = [], {"task": [0, 0.0], "other": [0, 0.0]}
    for line in lines:
        m = COMPILE.search(line)
        if m:
            t = THREAD.match(line)
            side = "task" if t and t.group(1).startswith("Executor task launch") else "other"
            open_[side][0] += 1
            open_[side][1] += float(m.group(1))
            continue
        p = PHASE.search(line)
        b = None if p else BATCH.search(line)
        if p or b:
            phases.append((p.group(1).strip() if p else f"batch {b.group(1)}", open_))
            open_ = {"task": [0, 0.0], "other": [0, 0.0]}
    if open_["task"][0] or open_["other"][0]:
        phases.append((TAIL, open_))
    return phases


def main():
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    with open(sys.argv[1], errors="replace") as f:
        phases = tally(f)
    if not phases:
        sys.exit(f"no [bench] phase line in {sys.argv[1]}")
    w = max(len(p) for p, _ in phases + [("phase", None)])
    print(f"{'phase':<{w}}  {'compiles':>8}  {'task':>6}  {'other':>6}  "
          f"{'ms':>9}  {'task ms':>9}  {'other ms':>9}")
    total = {"task": [0, 0.0], "other": [0, 0.0]}
    for name, c in phases + [("total", None)]:
        if c is None:
            c = total
        else:
            for k in total:
                total[k][0] += c[k][0]
                total[k][1] += c[k][1]
        print(f"{name:<{w}}  {c['task'][0] + c['other'][0]:>8}  {c['task'][0]:>6}  "
              f"{c['other'][0]:>6}  {c['task'][1] + c['other'][1]:>9.1f}  "
              f"{c['task'][1]:>9.1f}  {c['other'][1]:>9.1f}")


if __name__ == "__main__":
    main()
