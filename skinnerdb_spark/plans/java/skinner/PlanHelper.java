package skinner;

import com.fasterxml.jackson.databind.ObjectMapper;
import java.math.BigInteger;
import java.util.ArrayList;
import java.util.Arrays;
import java.util.BitSet;
import java.util.HashMap;
import java.util.LinkedHashMap;
import java.util.List;
import java.util.Locale;
import java.util.Map;
import java.util.Set;
import java.util.TreeSet;
import org.apache.hadoop.conf.Configuration;
import org.apache.hadoop.fs.FileStatus;
import org.apache.hadoop.fs.FileSystem;
import org.apache.hadoop.fs.Path;
import org.apache.spark.sql.Row;
import org.apache.spark.sql.catalyst.expressions.And;
import org.apache.spark.sql.catalyst.expressions.Attribute;
import org.apache.spark.sql.catalyst.expressions.AttributeReference;
import org.apache.spark.sql.catalyst.expressions.EqualNullSafe;
import org.apache.spark.sql.catalyst.expressions.EqualTo;
import org.apache.spark.sql.catalyst.expressions.Expression;
import org.apache.spark.sql.catalyst.expressions.SubqueryExpression$;
import org.apache.spark.sql.catalyst.plans.Inner$;
import org.apache.spark.sql.catalyst.plans.logical.BROADCAST$;
import org.apache.spark.sql.catalyst.plans.logical.Filter;
import org.apache.spark.sql.catalyst.plans.logical.HintInfo;
import org.apache.spark.sql.catalyst.plans.logical.Join;
import org.apache.spark.sql.catalyst.plans.logical.JoinHint$;
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan;
import org.apache.spark.sql.catalyst.plans.logical.Project;
import org.apache.spark.sql.catalyst.plans.logical.ResolvedHint;
import org.apache.spark.sql.catalyst.plans.logical.SubqueryAlias;
import org.apache.spark.sql.classic.Dataset;
import org.apache.spark.sql.classic.SparkSession;
import org.apache.spark.sql.execution.FileSourceScanExec;
import org.apache.spark.sql.execution.SparkPlan;
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec;
import org.apache.spark.sql.execution.adaptive.QueryStageExec;
import org.apache.spark.sql.execution.datasources.HadoopFsRelation;
import org.apache.spark.sql.execution.datasources.LogicalRelation;
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat$;
import org.apache.spark.sql.execution.metric.SQLMetric;
import org.apache.spark.sql.types.StructType;
import scala.Option;
import scala.jdk.javaapi.CollectionConverters;

/**
 * The one plan walker: every walk over Catalyst's trees runs here, in the
 * JVM (skinnerdb_spark/plans/graph.py, plans/metrics.py and engine.py call
 * it).
 *
 * Python chooses join orders; this class touches Catalyst's plans. One
 * {@link #extract} call walks a DataFrame's analyzed plan and keeps the
 * leaf plans, conditions and parent operators in a {@link Graph}, which
 * reports a compact JSON summary. One {@link Graph#rebuild} call builds the
 * left-deep chain of a chosen order and replays the parents over it. One
 * {@link #executedNodes} call reports an executed plan's operators and
 * their SQL metrics. Plan and expression handles never cross to Python, so
 * a query costs a handful of py4j round trips instead of one per plan node.
 *
 * Loaded at run time through a URLClassLoader whose parent is Spark's
 * loader (skinnerdb_spark/state.py), so it needs nothing on the launch
 * classpath. Methods that Python calls take and return only strings,
 * ints, Datasets and plans, and report ineligible shapes as data rather
 * than exceptions: a Java exception costs pyspark ~30 ms to convert.
 */
public final class PlanHelper {

    /** Unary operators above the join that replay unchanged over the
     *  reordered chain. A Filter directly above the join is absorbed into
     *  the conjunct pool instead. */
    private static final Set<String> PASSTHROUGH = Set.of(
        "Project", "Aggregate", "Sort", "GlobalLimit", "LocalLimit", "Distinct",
        "Deduplicate", "Window", "Offset", "Tail");

    private static final ObjectMapper JSON = new ObjectMapper();

    /** Shape not eligible for reordering; its message is the reason. */
    private static final class Ineligible extends Exception {
        Ineligible(String reason) {
            super(reason, null, false, false);
        }
    }

    /** The join graph of one analyzed plan (or the reason it has none). */
    public Graph extract(Dataset<?> df) {
        Graph g = new Graph(df.sparkSession());
        try {
            g.walk(df.queryExecution().analyzed());
        } catch (Ineligible e) {
            g.reason = e.getMessage();
        }
        return g;
    }

    /**
     * The schema {@code spark.read.parquet(path)} would infer, as JSON, read
     * from one footer on the driver (no job), or null when the path holds
     * no data file (the caller's plain read then reports it). Like Spark's
     * inference without schema merging, it reads the first data file;
     * names starting with '_' or '.' are skipped.
     */
    public String parquetSchema(SparkSession spark, String path) throws Exception {
        Configuration conf = spark.sessionState().newHadoopConf();
        Path p = new Path(path);
        FileSystem fs = p.getFileSystem(conf);
        if (!fs.exists(p)) {
            return null;
        }
        FileStatus st = fs.getFileStatus(p);
        if (st.isDirectory()) {
            FileStatus[] files = fs.listStatus(p, f -> {
                String n = f.getName();
                return !n.startsWith("_") && !n.startsWith(".");
            });
            Arrays.sort(files, (a, b) -> a.getPath().getName().compareTo(b.getPath().getName()));
            st = Arrays.stream(files).filter(FileStatus::isFile).findFirst().orElse(null);
            if (st == null) {
                return null;
            }
        }
        ParquetFileFormat$ pf = ParquetFileFormat$.MODULE$;
        Option<StructType> schema = pf.readSchema(
            pf.readParquetFootersInParallel(
                conf, seq(List.of(st)), spark.sessionState().conf().ignoreCorruptFiles()),
            spark);
        return schema.isDefined() ? schema.get().json() : null;
    }

    /**
     * The executed physical plan of {@code df} as JSON: {"adaptive": whether
     * its root is an AQE shell, "nodes": [...]}. Nodes are in pre-order,
     * AQE and query-stage shells unwrapped; each has "class" (the simple
     * class name), "name" (nodeName), "parent" (its parent's index, -1 at
     * the root), "metrics" ({key: [display name, value]} in the plan's
     * order; the key stands in for a missing display name) and, on a file
     * scan, "scan" (the scan's first root path). Metrics read 0 until an
     * action has run the plan.
     */
    public String executedNodes(Dataset<?> df) throws Exception {
        SparkPlan root = df.queryExecution().executedPlan();
        List<Map<String, Object>> nodes = new ArrayList<>();
        addNodes(root, -1, nodes);
        Map<String, Object> out = new LinkedHashMap<>();
        out.put("adaptive", root instanceof AdaptiveSparkPlanExec);
        out.put("nodes", nodes);
        return JSON.writeValueAsString(out);
    }

    private static void addNodes(SparkPlan node, int parent, List<Map<String, Object>> out) {
        while (node instanceof AdaptiveSparkPlanExec || node instanceof QueryStageExec) {
            node = node instanceof QueryStageExec q ? q.plan()
                : ((AdaptiveSparkPlanExec) node).executedPlan();
        }
        Map<String, Object> row = new LinkedHashMap<>();
        row.put("class", node.getClass().getSimpleName());
        row.put("name", node.nodeName());
        row.put("parent", parent);
        Map<String, Object> metrics = new LinkedHashMap<>();
        for (Map.Entry<String, SQLMetric> e : CollectionConverters.asJava(node.metrics()).entrySet()) {
            Option<String> name = e.getValue().name();
            String display = name.isDefined() && !name.get().isEmpty() ? name.get() : e.getKey();
            metrics.put(e.getKey(), List.of(display, e.getValue().value()));
        }
        row.put("metrics", metrics);
        if (node instanceof FileSourceScanExec scan
                && scan.relation().location().rootPaths().nonEmpty()) {
            row.put("scan", scan.relation().location().rootPaths().head().toString());
        }
        int self = out.size();
        out.add(row);
        for (SparkPlan child : list(node.children())) {
            addNodes(child, self, out);
        }
    }

    /** The files {@code df} reads and the root path of every file relation
     *  in its analyzed plan (a cached view reports no input files), as a
     *  JSON list. */
    public String scanPaths(Dataset<?> df) throws Exception {
        List<String> out = new ArrayList<>(Arrays.asList(df.inputFiles()));
        for (LogicalPlan leaf : list(df.queryExecution().analyzed().collectLeaves())) {
            String root = leafInfo(leaf)[1];
            if (root != null) {
                out.add(root);
            }
        }
        return JSON.writeValueAsString(out);
    }

    /** Leaf names of the topmost join of {@code df}'s optimized plan, in
     *  left-deep flatten order, as a JSON list. */
    public String joinOrder(Dataset<?> df) throws Exception {
        LogicalPlan node = df.queryExecution().optimizedPlan();
        List<String> names = new ArrayList<>();
        while (!(node instanceof Join) && node.children().size() == 1) {
            node = node.children().head();
        }
        if (node instanceof Join) {
            flattenOptimized(node, names);
        }
        return JSON.writeValueAsString(names);
    }

    private static void flattenOptimized(LogicalPlan node, List<String> names) {
        if (node instanceof Join) {
            for (LogicalPlan c : list(node.children())) {
                flattenOptimized(c, names);
            }
        } else if (node instanceof Project && ((Project) node).child() instanceof Join) {
            flattenOptimized(((Project) node).child(), names);
        } else {
            String base = leafInfo(node)[0];
            names.add(base == null ? "?" : base);
        }
    }

    /**
     * (display name, scan scope) of a leaf: the nearest SubqueryAlias under
     * unary wrappers, else the file scan's path stem, for the name; the
     * scan's full root path for the scope, so identical table names in two
     * warehouses never share a learned order.
     */
    private static String[] leafInfo(LogicalPlan leaf) {
        LogicalPlan node = leaf;
        String name = null;
        while (true) {
            if (node instanceof SubqueryAlias && name == null) {
                name = ((SubqueryAlias) node).alias();
            }
            if (node instanceof LogicalRelation) {
                try {
                    Path head = ((HadoopFsRelation) ((LogicalRelation) node).relation())
                        .location().rootPaths().head();
                    String stem = head.getName().split("\\.", -1)[0];
                    String display = name != null && !name.isEmpty() ? name
                        : stem.isEmpty() ? null : stem;
                    return new String[] {display, head.toString()};
                } catch (RuntimeException e) {
                    return new String[] {name, null};
                }
            }
            if (node.children().size() != 1) {
                return new String[] {name, null};
            }
            node = node.children().head();
        }
    }

    /**
     * One extracted reorderable join: its leaves (non-join inputs of the
     * topmost inner-join subtree, local filters pushed in), the conjunct
     * pool classified into equi-join edges and post-conditions, and the
     * parent operators to replay over the rebuilt chain.
     */
    public static final class Graph {
        private final SparkSession spark;
        private String reason;
        private final List<LogicalPlan> parents = new ArrayList<>();
        private final List<Expression> conjuncts = new ArrayList<>();
        private final List<LogicalPlan> leafPlans = new ArrayList<>();
        private final BitSet hinted = new BitSet();
        private final List<String> names = new ArrayList<>();
        private final List<String> scopes = new ArrayList<>();
        private final List<Edge> edges = new ArrayList<>();
        private final List<Post> posts = new ArrayList<>();
        private final List<BigInteger> sizes = new ArrayList<>();
        private int fact;
        private scala.collection.immutable.Seq<Attribute> outAttrs;

        /** An equi-join edge: leaf indices, column names, the condition. */
        private record Edge(int left, String leftCol, int right, String rightCol, Expression cond) {
            /** The leaf across the edge from {@code t}, or -1. */
            int other(int t) {
                return left == t ? right : right == t ? left : -1;
            }
        }

        /** A theta or multi-table conjunct and the leaves it needs bound. */
        private record Post(BitSet need, Expression cond) {}

        private Graph(SparkSession spark) {
            this.spark = spark;
        }

        private void walk(LogicalPlan analyzed) throws Ineligible {
            outAttrs = analyzed.output();
            // descend through replayable parents to the topmost join
            LogicalPlan node = analyzed;
            while (!(node instanceof Join)) {
                if (node instanceof Filter && leadsToJoin(node)) {
                    splitConjuncts(((Filter) node).condition());
                    node = ((Filter) node).child();
                } else if (PASSTHROUGH.contains(node.nodeName()) && node.children().size() == 1) {
                    parents.add(node);
                    node = node.children().head();
                } else {
                    throw new Ineligible("no reorderable join under operator " + node.nodeName());
                }
            }
            flatten(node);
            if (leafPlans.size() < 3) {
                throw new Ineligible(
                    "only " + leafPlans.size() + " join inputs; nothing to reorder");
            }
            // name the leaves (self-joins get __2, __3, ...) and map exprId -> leaf
            Map<Long, Integer> attrLeaf = new HashMap<>();
            for (int i = 0; i < leafPlans.size(); i++) {
                String[] info = leafInfo(leafPlans.get(i));
                String base = info[0] != null && !info[0].isEmpty() ? info[0] : "t" + i;
                scopes.add(info[1] == null ? "" : info[1]);
                String name = base;
                for (int k = 2; names.contains(name); k++) {
                    name = base + "__" + k;
                }
                names.add(name);
                for (Attribute a : list(leafPlans.get(i).output())) {
                    attrLeaf.put(a.exprId().id(), i);
                }
            }
            classify(attrLeaf);
            for (int i = 0; i < leafPlans.size(); i++) {
                sizes.add(leafPlans.get(i).stats().sizeInBytes().bigInteger());
                if (sizes.get(i).compareTo(sizes.get(fact)) > 0) {
                    fact = i;
                }
            }
        }

        private static boolean leadsToJoin(LogicalPlan node) {
            while (node instanceof Filter) {
                node = ((Filter) node).child();
            }
            return node instanceof Join;
        }

        private void splitConjuncts(Expression e) {
            if (e instanceof And) {
                splitConjuncts(((And) e).left());
                splitConjuncts(((And) e).right());
            } else {
                conjuncts.add(e);
            }
        }

        /** Flattens the inner-join subtree; non-join children are the
         *  leaves. Broadcast hints on leaves are unwrapped here and
         *  re-applied at rebuild: a hint on a standalone leaf plan (size
         *  estimates, sampled episodes) would be dropped with a warning. */
        private void flatten(LogicalPlan node) throws Ineligible {
            if (node instanceof Join) {
                Join j = (Join) node;
                if (!j.joinType().sql().equals("INNER")) {
                    throw new Ineligible("non-inner join: " + j.joinType().sql());
                }
                if (!j.hint().toString().strip().isEmpty()) {
                    throw new Ineligible("join-level hint present; order is user-pinned");
                }
                if (j.condition().isDefined()) {
                    splitConjuncts(j.condition().get());
                }
                flatten(j.left());
                flatten(j.right());
                return;
            }
            boolean hint = false;
            while (node instanceof ResolvedHint) {
                String h = ((ResolvedHint) node).hints().toString().toLowerCase(Locale.ROOT);
                if (!h.contains("broadcast")) {
                    // a shuffle_hash/merge pin cannot be re-applied faithfully
                    // after reordering: the order is the user's
                    throw new Ineligible(
                        "leaf-level non-broadcast hint (" + h.strip() + "); order is user-pinned");
                }
                hint = true;
                node = ((ResolvedHint) node).child();
            }
            hinted.set(leafPlans.size(), hint);
            leafPlans.add(node);
        }

        /** Sorts the conjunct pool into local filters (pushed into their
         *  leaf), binary equi-join edges and post-conditions. */
        private void classify(Map<Long, Integer> attrLeaf) throws Ineligible {
            List<List<Expression>> local = new ArrayList<>();
            for (int i = 0; i < leafPlans.size(); i++) {
                local.add(new ArrayList<>());
            }
            for (Expression cj : conjuncts) {
                if (SubqueryExpression$.MODULE$.hasSubquery(cj)) {
                    throw new Ineligible("subquery inside join/filter condition");
                }
                if (!cj.deterministic()) {
                    // a rand() conjunct filters per row at a PLACE in the
                    // plan; Catalyst's own pushdown refuses to move it too
                    throw new Ineligible("non-deterministic conjunct; placement is semantics");
                }
                BitSet touched = new BitSet();
                for (Attribute a : list(cj.references().toSeq())) {
                    Integer leaf = attrLeaf.get(a.exprId().id());
                    if (leaf == null) {
                        throw new Ineligible("condition references non-leaf attribute");
                    }
                    touched.set(leaf);
                }
                if (touched.cardinality() <= 1) {
                    local.get(Math.max(0, touched.nextSetBit(0))).add(cj);
                } else if (touched.cardinality() == 2
                        && (cj instanceof EqualTo || cj instanceof EqualNullSafe)
                        && cj.children().head() instanceof AttributeReference
                        && cj.children().last() instanceof AttributeReference) {
                    AttributeReference l = (AttributeReference) cj.children().head();
                    AttributeReference r = (AttributeReference) cj.children().last();
                    edges.add(new Edge(attrLeaf.get(l.exprId().id()), l.name(),
                        attrLeaf.get(r.exprId().id()), r.name(), cj));
                } else {
                    posts.add(new Post(touched, cj));
                }
            }
            if (edges.isEmpty()) {
                throw new Ineligible("no equi-join edges found");
            }
            BitSet covered = new BitSet();
            for (Edge e : edges) {
                covered.set(e.left());
                covered.set(e.right());
            }
            if (covered.cardinality() != names.size()) {
                TreeSet<String> missing = new TreeSet<>();
                for (int i = covered.nextClearBit(0); i < names.size(); i = covered.nextClearBit(i + 1)) {
                    missing.add(names.get(i));
                }
                throw new Ineligible("join graph disconnected: ['"
                    + String.join("', '", missing) + "'] have no equi edge");
            }
            for (int i = 0; i < leafPlans.size(); i++) {
                LogicalPlan p = leafPlans.get(i);
                for (Expression cj : local.get(i)) {
                    p = new Filter(cj, p);
                }
                leafPlans.set(i, p);
            }
        }

        /** The graph as JSON: reason (null when eligible), names, scopes,
         *  edges [left, left col, right, right col], post-condition table
         *  sets, hinted leaves, leaf sizes in bytes and the fact leaf. */
        public String summary() throws Exception {
            Map<String, Object> out = new LinkedHashMap<>();
            out.put("reason", reason);
            if (reason == null) {
                out.put("names", names);
                out.put("scopes", scopes);
                out.put("edges", edges.stream().map(e -> List.of(
                    names.get(e.left()), e.leftCol(), names.get(e.right()), e.rightCol())).toList());
                out.put("post", posts.stream().map(c -> pick(c.need())).toList());
                out.put("hinted", pick(hinted));
                out.put("sizes", sizes);
                out.put("fact", names.get(fact));
            }
            return JSON.writeValueAsString(out);
        }

        private List<String> pick(BitSet leaves) {
            List<String> out = new ArrayList<>();
            leaves.stream().forEach(i -> out.add(names.get(i)));
            return out;
        }

        /** Leaf {@code i} with its local filters, as a Dataset. */
        public Dataset<Row> leaf(int i) {
            return ofAnalyzed(leafPlans.get(i));
        }

        /**
         * The left-deep chain of {@code order} (comma-separated leaf
         * indices, a connected order), without the parent operators. With
         * {@code sample} given, it replaces the fact leaf and the chain
         * carries no stream hint (a scored episode); otherwise the chain
         * streams its largest input, see {@link #streamed}.
         */
        public Dataset<Row> chain(String order, Dataset<?> sample) {
            LogicalPlan fact = sample == null ? null : sample.queryExecution().analyzed();
            return ofAnalyzed(chainPlan(parse(order), fact));
        }

        /** Replays the parent operators over {@code chain} and pins the
         *  original output columns. */
        public Dataset<Row> finish(Dataset<?> chain) {
            return ofAnalyzed(finishPlan(chain.queryExecution().analyzed()));
        }

        /** {@code finish(chain(order, null))} in one call: the plan a
         *  learned order executes. */
        public Dataset<Row> rebuild(String order) {
            return ofAnalyzed(finishPlan(chainPlan(parse(order), null)));
        }

        /**
         * A Dataset over {@code plan}. Every plan built here is made of
         * analyzed subplans, resolved expressions and resolved operators
         * (Join, Filter, ResolvedHint, Project, copies of analyzed
         * parents), which the analyzer returns unchanged; so the plan is
         * marked analyzed rather than analyzed again (4-10 ms a query).
         */
        private Dataset<Row> ofAnalyzed(LogicalPlan plan) {
            plan.setAnalyzed();
            return Dataset.ofRows(spark, plan);
        }

        private static int[] parse(String order) {
            return Arrays.stream(order.split(",")).mapToInt(Integer::parseInt).toArray();
        }

        /**
         * Every conjunct is attached at its earliest bound position. Edge
         * attachment and post-condition placement depend only on the bound
         * table SET, never on the order within it, which is what lets
         * score_orders share one measurement between orders that bind the
         * same sets in the same sequence.
         */
        private LogicalPlan chainPlan(int[] order, LogicalPlan sampledFact) {
            int stream = sampledFact == null ? streamed(order) : -1;
            BitSet bound = new BitSet();
            BitSet used = new BitSet();
            BitSet postUsed = new BitSet();
            LogicalPlan acc = leafFor(order[0], sampledFact);
            bound.set(order[0]);
            for (int k = 1; k < order.length; k++) {
                int t = order[k];
                Expression cond = null;
                for (int i = 0; i < edges.size(); i++) {
                    int other = edges.get(i).other(t);
                    if (!used.get(i) && other >= 0 && bound.get(other)) {
                        Expression c = edges.get(i).cond();
                        cond = cond == null ? c : new And(cond, c);
                        used.set(i);
                    }
                }
                if (t == stream) {
                    acc = broadcast(acc);
                }
                acc = new Join(acc, leafFor(t, sampledFact), Inner$.MODULE$, Option.apply(cond),
                    JoinHint$.MODULE$.NONE());
                bound.set(t);
                acc = attachPost(acc, bound, postUsed);
            }
            // an edge between two leaves bound before either joined cannot
            // occur in a connected left-deep order; stay safe regardless
            for (int i = 0; i < edges.size(); i++) {
                if (!used.get(i)) {
                    acc = new Filter(edges.get(i).cond(), acc);
                }
            }
            return attachPost(acc, bound, postUsed);
        }

        private LogicalPlan attachPost(LogicalPlan acc, BitSet bound, BitSet postUsed) {
            for (int i = 0; i < posts.size(); i++) {
                BitSet unbound = (BitSet) posts.get(i).need().clone();
                unbound.andNot(bound);
                if (!postUsed.get(i) && unbound.isEmpty()) {
                    postUsed.set(i);
                    acc = new Filter(posts.get(i).cond(), acc);
                }
            }
            return acc;
        }

        /** Leaf {@code t}, the user's broadcast hint re-applied inside the
         *  join (see flatten). */
        private LogicalPlan leafFor(int t, LogicalPlan sampledFact) {
            LogicalPlan p = sampledFact != null && t == fact ? sampledFact : leafPlans.get(t);
            return hinted.get(t) ? broadcast(p) : p;
        }

        private static LogicalPlan broadcast(LogicalPlan p) {
            return new ResolvedHint(p, new HintInfo(Option.apply(BROADCAST$.MODULE$)));
        }

        /**
         * The leaf a learned order should stream rather than broadcast, or
         * -1. Catalyst estimates a join's size as the product of its
         * inputs, so after a few dimension joins the accumulated side of a
         * dimension-first chain looks larger than the fact table, and the
         * fact table is the one broadcast. When the largest leaf joins
         * after leaves that are all smaller and together fit under
         * spark.sql.autoBroadcastJoinThreshold (-1 disables this), the
         * accumulated side is hinted for broadcast instead. A user
         * broadcast hint on the largest leaf wins.
         */
        private int streamed(int[] order) {
            long limit = spark.sessionState().conf().autoBroadcastJoinThreshold();
            int i = 0;
            while (order[i] != fact) {
                i++;
            }
            if (limit < 0 || i == 0 || hinted.get(fact)) {
                return -1;
            }
            BigInteger sum = BigInteger.ZERO;
            for (int k = 0; k < i; k++) {
                BigInteger s = sizes.get(order[k]);
                if (s.compareTo(sizes.get(fact)) >= 0) {
                    return -1;
                }
                sum = sum.add(s);
            }
            return sum.compareTo(BigInteger.valueOf(limit)) > 0 ? -1 : fact;
        }

        @SuppressWarnings({"unchecked", "rawtypes"})
        private LogicalPlan finishPlan(LogicalPlan chain) {
            if (parents.isEmpty()) {
                // no operator above the join: re-pin the original columns
                return new Project((scala.collection.immutable.Seq) outAttrs, chain);
            }
            LogicalPlan plan = chain;
            for (int i = parents.size() - 1; i >= 0; i--) {
                plan = parents.get(i).withNewChildren(seq(List.of(plan)));
            }
            return plan;
        }
    }

    private static <T> List<T> list(scala.collection.Seq<T> s) {
        return CollectionConverters.asJava(s);
    }

    private static <T> scala.collection.immutable.Seq<T> seq(List<T> l) {
        return CollectionConverters.asScala(l).toSeq();
    }
}
