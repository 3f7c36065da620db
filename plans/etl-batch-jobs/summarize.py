import json, sys, statistics as st
def q(xs):
    xs=sorted(xs); n=len(xs)
    def pct(p):
        k=(n-1)*p; f=int(k); c=min(f+1,n-1); return xs[f]+(xs[c]-xs[f])*(k-f)
    return pct(.25), pct(.5), pct(.75)
rows=[json.loads(l) for l in open(sys.argv[1]) if l.strip()]
extra = sys.argv[2] if len(sys.argv)>2 else None
for metric in ("setup_s","first_op_s","wall_s"):
    by={}
    for r in rows:
        by.setdefault(r['side'],{})[r['pair']]=r['result']['metrics'][metric]['value']
    sides=sorted(by)
    print(f"== {metric}")
    for s in sides:
        v=list(by[s].values()); a,m,b=q(v)
        print(f"  {s:8s} n={len(v)} median={m:.3f} q1={a:.3f} q3={b:.3f} iqr={b-a:.3f} runs={[round(x,3) for x in by[s].values()]}")
    if set(sides)>={'parent','change'}:
        pairs=[p for p in by['parent'] if p in by['change']]
        wins=sum(by['change'][p]<by['parent'][p] for p in pairs)
        print(f"  change wins {wins}/{len(pairs)} pairs")
fails=[(r['side'],r['seed'],r['result']['failed'],r['result']['attempted'],r['result']['correct']) for r in rows]
print("failed/attempted/correct:", fails)
