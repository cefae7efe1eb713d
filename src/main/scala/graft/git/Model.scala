package graft.git

/** A repository the extractor reads: its name, filesystem path and the
  * branch `git log` walks (resolved by [[GitCli.repoInfo]]). */
final case class RepoInfo(name: String, path: String, branch: String)
