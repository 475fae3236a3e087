package graft.core

/** Model-selector expressions for `plan --select-model` / `run --select-model`
  * (reference sqlmesh/core/selector.py: grammar `parse` :403-501, evaluation
  * `expand_model_selections` :171-254).
  *
  * Grammar (verbatim from the reference's SelectorDialect):
  *   selection  := conjunction
  *   conjunction:= unary ('&' unary)? ('|' conjunction)?
  *   unary      := '^' unary | var                      -- '^' = NOT
  *   var        := '+'? kind? pattern '+'? | '+'? '(' conjunction ')' '+'?
  *   kind       := 'tag:' | 'resource_type:' | 'git:'
  *   pattern    := name with optional '*' wildcards
  * Leading '+' adds all upstream models of each match, trailing '+' all
  * downstream. Multiple selections are OR'd together (selector.py:183).
  */
object ModelSelector {

  sealed trait Node
  final case class Pat(pattern: String) extends Node
  final case class TagPat(pattern: String) extends Node
  /** `git:<branch>` — models whose source file changed vs the branch
    * (selector.py:214 Git node; needs a changed-file resolver at expand). */
  final case class GitPat(branch: String) extends Node
  final case class Resource(tpe: String) extends Node
  final case class Not(n: Node) extends Node
  final case class And(l: Node, r: Node) extends Node
  final case class Or(l: Node, r: Node) extends Node
  final case class Direction(n: Node, up: Boolean, down: Boolean) extends Node

  // ------------------------------------------------------------------ parse

  private final class Parser(input: String) {
    private var i = 0
    private def ws(): Unit = while (i < input.length && input(i).isWhitespace) i += 1
    private def peek: Char = if (i < input.length) input(i) else '\u0000'
    private def eat(c: Char): Boolean = { ws(); if (peek == c) { i += 1; true } else false }
    /** name chars: anything but the operator/paren/space set; '*' kept inline
      * (reference tokenizes '*' separately but re-concatenates, :455-458). */
    private def name(): String = {
      ws(); val b = new StringBuilder
      while (i < input.length && !"()&|^+: \t".contains(input(i))) { b += input(i); i += 1 }
      b.result()
    }

    def conjunction(): Node = {
      var node = unary()
      if (eat('&')) node = And(node, unary())
      if (eat('|')) node = Or(node, conjunction())
      node
    }

    private def unary(): Node =
      if (eat('^')) Not(unary()) else variable()

    private def variable(): Node = {
      val up = eat('+')
      ws()
      // kind prefix: tag: / resource_type:
      val save = i
      val kind = name().toLowerCase match {
        case k @ ("tag" | "resource_type" | "git") if eat(':') => Some(k)
        case _ => i = save; None
      }
      var node: Node =
        if (eat('(')) {
          val inner = conjunction()
          // reference matches a trailing '+' BEFORE the ')' (selector.py:462-464)
          val downInner = eat('+')
          require(eat(')'), s"expected ')' at $i: $input")
          if (downInner) Direction(inner, up = false, down = true) else inner
        } else {
          val n = name()
          require(n.nonEmpty, s"expected model name at $i: $input")
          kind match {
            case Some("tag")           => TagPat(n.toLowerCase)
            case Some("resource_type") => Resource(n.toLowerCase)
            case Some("git")           => GitPat(n)
            case _                     => Pat(n)
          }
        }
      val down = eat('+')
      if (up || down) node = Direction(node, up, down)
      node
    }

    def done: Boolean = { ws(); i >= input.length }
  }

  def parse(selection: String): Node = {
    val p = new Parser(selection)
    val node = p.conjunction()
    require(p.done, s"trailing input in selector: $selection")
    node
  }

  /** fnmatch-style '*' wildcard (selector.py:197 fnmatch.fnmatchcase). */
  private def matches(pattern: String, s: String): Boolean =
    if (!pattern.contains('*')) pattern == s
    else s.matches(pattern.split("\\*", -1).map(java.util.regex.Pattern.quote).mkString(".*"))

  // --------------------------------------------------------------- evaluate

  /** Expand selections to the matching model-name set. Multiple selections
    * are OR'd. `isAudit` marks standalone audits for `resource_type:audit`.
    * Unqualified patterns (no '.') match a model's bare table name too, so
    * `+orders` works against `db.orders` like the reference's normalization.
    */
  def expand(selections: Seq[String], models: Map[String, Model],
             isAudit: Set[String] = Set.empty,
             changedFiles: String => Set[String] = branch =>
               throw new IllegalArgumentException(
                 s"git:$branch selection needs a project-backed context " +
                   "(load models from a directory inside a git repository)")): Set[String] = {
    if (selections.isEmpty) return models.keySet
    val node = selections.map(parse).reduceLeft[Node](Or(_, _))
    val byTag: Map[String, Set[String]] = models.values
      .flatMap(m => m.tags.map(t => t.toLowerCase -> m.name)).toSeq
      .groupBy(_._1).map { case (t, xs) => t -> xs.map(_._2).toSet }
    lazy val dag = ModelDag(models.values)

    def nameMatches(pattern: String, fqn: String): Boolean =
      matches(pattern, fqn) ||
        (!pattern.contains('.') && matches(pattern, fqn.split('.').last))

    def eval(n: Node): Set[String] = n match {
      case Pat(p)    => models.keySet.filter(nameMatches(p, _))
      case GitPat(branch) =>
        // match on the models' load-time source paths (absolute-normalized
        // on both sides); one git invocation per selector node
        val changed = changedFiles(branch)
        models.collect { case (n, m) if m.sourcePath.exists(changed) => n }.toSet
      case TagPat(p) =>
        if (p.contains('*')) byTag.collect { case (t, ms) if matches(p, t) => ms }.flatten.toSet
        else byTag.getOrElse(p, Set.empty)
      case Resource(t) => t match {
        case "model" => models.keySet.filterNot(isAudit)
        case "audit" => models.keySet.intersect(isAudit)
        case "seed"  => models.collect {
          case (name, m) if m.kind.isInstanceOf[ModelKind.Seed] => name }.toSet
        case other => throw new IllegalArgumentException(s"unsupported resource type: $other")
      }
      case Not(x)    => models.keySet -- eval(x)
      case And(l, r) => eval(l) & eval(r)
      case Or(l, r)  => eval(l) | eval(r)
      case Direction(x, up, down) =>
        val base = eval(x)
        (if (up) dag.upstream(base) else base) ++ (if (down) dag.downstream(base) else base)
    }
    eval(node)
  }
}
