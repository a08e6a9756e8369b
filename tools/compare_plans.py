#!/usr/bin/env python3
"""Compare two executed-plan dumps up to expression ids.

Usage: python3 tools/compare_plans.py <before.txt> <after.txt>

A dump holds, per query (`===== <name> =====`), every executed plan
the query ran, one per action (`-- action=<name>`), as
`QueryExecution.executedPlan.toString` after the action finished (the
final adaptive plan). Both sides are normalized — expression, plan and
AQE stage ids, codegen stage numbers, lambda and object hashes, temp
checkpoint paths, run ids and batch timestamps — and each plan must
then match its counterpart line for line.

Nothing else is canonicalized: a runtime choice that differs between
two dumps (a join strategy, a build side, an exchange) is a difference.
Dump a tree with `sbt "runMain graft.Explain <sfDir> <query> ..."`
(stdout, minus sbt's own `[info]`/`[success]` lines).

Exit 1 when any query's plans differ (or a query or plan is missing).
"""
import re
import sys


def normalize(text):
    subs = [
        (r'\$\$Lambda\$?[\w/]*@[0-9a-f]+', '$$Lambda'),
        (r'@[0-9a-f]{6,8}\b', '@H'),
        (r'#\d+L?', '#N'),
        (r'plan_id=\d+', 'plan_id=N'),
        (r'\b((?:Reused|Result|Shuffle|Broadcast|TableCache)?QueryStage) \d+',
         r'\1 N'),
        (r'\*\(\d+\)', '*(N)'),
        (r'(graft_hot_buckets_\w+/\w+)/\d+', r'\1/N'),
        (r'/tmp/temporary-[0-9a-f-]+', '/tmp/temporary-X'),
        (r'runId = [0-9a-f-]+', 'runId = X'),
        (r'\b1[78]\d{11}\b', 'TS'),
    ]
    for pat, rep in subs:
        text = re.sub(pat, rep, text)
    return text


def queries(path):
    """{query: [plan lines, ...]} in dump order."""
    out, plans = {}, None
    for line in normalize(open(path).read()).split('\n'):
        m = re.match(r'^===== (\S+) =====$', line)
        if m:
            plans = out.setdefault(m.group(1), [])
        elif line.startswith('-- ') and plans is not None:
            plans.append([line])
        elif plans:
            plans[-1].append(line)
    for plans in out.values():
        for plan in plans:
            while plan and not plan[-1].strip():
                plan.pop()
    return out


def main():
    before, after = queries(sys.argv[1]), queries(sys.argv[2])
    ok = True
    for q in sorted(set(before) | set(after)):
        b, a = before.get(q, []), after.get(q, [])
        if len(b) != len(a):
            print(f'DIFF {q}: {len(b)} plans before, {len(a)} after')
            ok = False
            continue
        bad = [i for i, (x, y) in enumerate(zip(b, a)) if x != y]
        if bad:
            print(f'DIFF {q}: plan(s) {bad} differ')
            ok = False
        else:
            print(f'SAME {q}: {len(b)} plan(s)')
    sys.exit(0 if ok else 1)


if __name__ == '__main__':
    main()
